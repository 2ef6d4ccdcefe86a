package graft.api

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.catalog.Catalog
import graft.fmt.Render
import graft.ops.{Query, Write}
import graft.schema.SdbSchema
import graft.sources.Sources
import graft.store.TsStore
import graft.stream.SubRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's command surface end-to-end: `create/set/get/keys/
  * del/drop/save/pack/sub/update/replay` against `subject.table` keys
  * (workers/sisdb/sisdb.h:44-53, command table sisdb.c:14-42), plus
  * the auto-creating factor surface (`fset`/`fget`) and the
  * unstructured ONE/MUL styles (`kset`/`kget`/`kpush`/`krange`), wired
  * over the engine's primitives — SdbSchema for table declarations,
  * TsStore per table for storage, Query for the range/where/fields
  * matrix (sisdb_io.c:23-93), Render for the j/a/c output formats, and
  * SubRegistry for live pub/sub on writes.
  *
  * A reference client's
  * `get SH600600.stk_day {"range":{"start":20210101,"stop":20211231},
  * "fields":"time,open,close","format":"a"}` becomes
  * `engine.get("SH600600.stk_day", params)` with identical semantics.
  *
  * Every table's store keeps versioned day dirs behind an
  * exclusively-claimed manifest (the concurrent-reader contract,
  * TsStore scaladoc): out-of-process readers pin a manifest via
  * [[openSnapshot]] and stay whole through saves/deletes/packs.
  * Superseded versions are reclaimed only by [[vacuum]] — run by the
  * deployment with a grace ≥ its longest reader — or by the opt-in
  * [[autoVacuum]] schedule; neither runs by default. A root written
  * by the retired flat layout (catalog `"snapshots": false`) is
  * refused at open.
  *
  * One WRITER per store root is ENFORCED, not just documented: each
  * table's TsStore takes over a lease sidecar at open and re-checks
  * its fencing token before every commit, so when two engine
  * processes point at one root the earlier one's next write fails
  * loudly instead of interleaving commits into a corrupt manifest
  * (TsStore writer-fence scaladoc; the reference gets the same
  * guarantee from its single dispatcher thread,
  * sisdb_server.c:474-476). */
final class Engine(val spark: SparkSession, rootPath: String) {

  val catalog = new Catalog
  val subs = new SubRegistry
  private val stores = scala.collection.concurrent.TrieMap[String, TsStore]()
  // every SQL-exposed (view, backing table) pair per table — exposeSql
  // may run more than once (e.g. into different databases) and ALL
  // registrations must stay live, so the store's single callback fans
  // out over this list rather than being replaced per call
  private val sqlNames =
    scala.collection.concurrent.TrieMap[String, Vector[(String, String)]]()
  // day partition values known registered per backing table — lets the
  // incremental per-commit pin issue ONE statement per changed day
  // (SET LOCATION for known days, one batched ADD for fresh ones)
  // instead of an ADD + SET round-trip each. Authoritative within the
  // session: it is (re)seeded by every bulk pin/resync (which list the
  // catalog once) and maintained by every partition ADD/DROP site, and
  // the callback that consults it only exists after exposeSql seeded it
  private val pinnedDays =
    scala.collection.concurrent.TrieMap[String, Set[String]]()
  private val mapper = new ObjectMapper()

  // ── durable catalog: every `create` persists the table's canonical
  // DSL (plus any SQL exposures) in a sidecar under rootPath, and a
  // NEW Engine over an existing rootPath rehydrates its declarations
  // from it — the reference recovers its sdb dicts from conf/disk at
  // init/open (workers/sisdb/sisdb.c:603-639; disk file heads carry
  // the dicts, src/core/disk/sis_disk.h:239ff). Stores themselves stay
  // lazy (first access runs TsStore's own meta/tombstone/swap
  // recovery), so reopening a 10k-table root costs one JSON read.
  // resolved from the root path: the session's DEFAULT filesystem
  // would fail Hadoop's wrong-FS check for a root on another scheme
  private def hadoopFs = new org.apache.hadoop.fs.Path(rootPath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def catalogFile = new org.apache.hadoop.fs.Path(
    s"${rootPath.stripSuffix("/")}/__catalog.json")
  // exposures done via exposeSql: table → (db list), re-exposed on open
  private val exposedDbs =
    scala.collection.concurrent.TrieMap[String, Vector[String]]()
  // true only while loadEngineCatalog replays the sidecar: the replay
  // funnels through exposeSql, whose persistEngineCatalog would
  // otherwise overwrite the sidecar with the partially-replayed subset
  // on every exposure — and a crash mid-open would permanently lose
  // the exposures not yet replayed. While rehydrating, persist is a
  // no-op; the on-disk sidecar already holds the complete state.
  private var rehydrating = false
  loadEngineCatalog()
  // atomic-commit roll-forward runs at the END of the class body —
  // it opens stores, which read engine fields (autoVacuumCfg, hooks)
  // declared below this point

  /** Fail loudly if another writer took over any table root this
    * engine has WRITTEN (the store-level fence, checked here at the
    * engine's own shared artifact): a superseded engine's catalog
    * persist would otherwise silently overwrite the winner's sidecar
    * with a stale view — create/evolve are the one mutation class
    * that touches no store, so the store fences alone cannot catch
    * it. Engines that never wrote (readers; heal-persists) hold no
    * lease and pass. */
  private def requireCatalogUnfenced(): Unit =
    stores.collectFirst {
      case (t, st) if !st.holdsWriteLease => t
    }.foreach { t =>
      throw new IllegalStateException(
        s"$rootPath: this engine is FENCED — another writer took over " +
          s"table '$t'; its catalog write is refused (a stale sidecar " +
          "would shadow the winner's declarations). Re-open the engine " +
          "to continue.")
    }

  private def persistEngineCatalog(): Unit = synchronized {
    // skipped while rehydrating — the sidecar is the source being
    // replayed. (A guard, not a `return`: Scala compiles a return
    // inside `synchronized`'s by-name block to a NonLocalReturn
    // exception unwound through the monitor — correct today, but a
    // refactor moving the line into a nested closure would silently
    // change which frame it exits.)
    if (!rehydrating) persistEngineCatalogLocked()
  }

  // ── catalog persistence: numbered generations + exclusive claim.
  // The sidecar is a shared artifact two engines can legitimately
  // mutate (create/evolve touch no store, so no store lease covers
  // them). A read-merge-write over ONE file is not a CAS: two engines
  // persisting in the same instants each merge what was on disk when
  // they read and the later rename silently erases the earlier
  // engine's just-created table. Numbered generations close that
  // window structurally: each persist merges the NEWEST on-disk
  // generation and then claims `__catalog.<N+1>.json` with
  // [[TsStore.commitExclusive]] — exactly one claimant of a slot
  // wins; the loser re-reads (now seeing the winner's tables),
  // re-merges, and claims the next slot. Lose the race, detect it,
  // retry the merge — never lose a declaration.
  // lazy: loadEngineCatalog runs from the constructor ABOVE this
  // declaration in the class body
  private lazy val CatalogGen = "^__catalog\\.(\\d+)\\.json$".r
  private def catalogGenFile(n: Long) = new org.apache.hadoop.fs.Path(
    s"${rootPath.stripSuffix("/")}/__catalog.$n.json")
  private def listCatalogGens(
      f: org.apache.hadoop.fs.FileSystem): Seq[Long] = {
    val rp = new org.apache.hadoop.fs.Path(rootPath)
    if (!f.exists(rp)) Seq.empty
    else f.listStatus(rp).toSeq.map(_.getPath.getName)
      .collect { case CatalogGen(n) => n.toLong }.sorted
  }

  /** The newest committed catalog: (generation, node). Generation 0 =
    * the pre-CAS single-file sidecar (migrated by the next persist) or
    * a virgin root (node None). An unreadable numbered generation is
    * CORRUPTION and fails loudly — claims land fully-written by
    * construction, so "torn newest" cannot be a benign state — except
    * for the one benign spelling: the file VANISHED between list and
    * read because a concurrent persist's GC retired it, in which case
    * a newer generation exists and a re-list finds it. */
  private def readNewestCatalog(f: org.apache.hadoop.fs.FileSystem)
      : (Long, Option[com.fasterxml.jackson.databind.JsonNode]) = {
    var attempts = 0
    var out = Option.empty[
      (Long, Option[com.fasterxml.jackson.databind.JsonNode])]
    while (out.isEmpty) {
      attempts += 1
      if (attempts > 32) throw new IllegalStateException(
        s"catalog at $rootPath keeps shifting between list and read — " +
          "churn beyond any plausible concurrent-writer count")
      listCatalogGens(f).lastOption match {
        case None =>
          try {
            if (f.exists(catalogFile))
              out = Some((0L, Some(mapper.readTree(
                TsStore.readJsonBytes(f, catalogFile)))))
            // a vanished/absent legacy file may be a migration that
            // committed generation 1 in the instants since the list —
            // conclude "virgin root" only on a second clean pass
            else if (attempts >= 2) out = Some((0L, None))
          } catch { case _: java.io.FileNotFoundException => }
        case Some(n) =>
          try out = Some((n,
            Some(mapper.readTree(TsStore.readJsonBytes(f,
              catalogGenFile(n))))))
          catch {
            case e: java.io.FileNotFoundException =>
              if (attempts > 16) throw new IllegalStateException(
                s"catalog generation $n at $rootPath keeps vanishing " +
                  "between list and read — GC churn beyond any " +
                  "plausible concurrent-writer count", e)
          }
      }
    }
    out.get
  }

  /** Spec hook: fires between the merge-read and the exclusive claim —
    * the exact instant a concurrent engine's commit turns this
    * persist's merge stale. Tests inject a foreign generation here to
    * drill the lost-race retry deterministically. */
  private[graft] var onBeforeCatalogClaim: () => Unit = () => ()

  private def persistEngineCatalogLocked(): Unit = {
    val f = hadoopFs
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      attempt += 1
      if (attempt > 64) throw new IllegalStateException(
        s"catalog persist at $rootPath lost ${attempt - 1} straight " +
          "claim races — a livelock this dense means something is " +
          "spinning persists; refusing to fight it blind")
      // merge base: the NEWEST on-disk generation. A merge that cannot
      // read it must FAIL the persist (readNewestCatalog throws):
      // writing this engine's view blind would erase every other
      // engine's declarations — the exact bug the merge prevents.
      val (gen, onDisk) = readNewestCatalog(f)
      val root = mapper.createObjectNode()
      val ts = root.putObject("tables")
      catalog.tables.foreach(t => ts.put(t, catalog.get(t).get.toDsl))
      val ex = root.putObject("exposed")
      exposedDbs.toSeq.sortBy(_._1).foreach { case (t, dbs) =>
        val arr = ex.putArray(t); dbs.foreach(arr.add)
      }
      // carry through on-disk declarations this engine does not know:
      // tables are never REMOVED from the catalog (drop removes
      // subjects), so a name-union is always safe. Exposed entries
      // merge only for those carried tables (an exposure of a KNOWN
      // table may have been legitimately removed by unexpose).
      onDisk.foreach { node =>
        import scala.jdk.CollectionConverters._
        val unknown = node.path("tables").properties().asScala
          .filter(e => catalog.get(e.getKey).isEmpty).toSeq
        unknown.foreach(e => ts.put(e.getKey, e.getValue.asText()))
        val exn = node.path("exposed")
        unknown.map(_.getKey).filter(exn.has).foreach { t =>
          val arr = ex.putArray(t)
          (0 until exn.path(t).size())
            .foreach(i => arr.add(exn.path(t).get(i).asText()))
        }
      }
      f.mkdirs(new org.apache.hadoop.fs.Path(rootPath))
      val tmp = new org.apache.hadoop.fs.Path(
        s"${rootPath.stripSuffix("/")}/__catalog.tmp." +
          java.util.UUID.randomUUID().toString)
      val out = f.create(tmp, true)
      try out.write(mapper.writeValueAsBytes(root)) finally out.close()
      onBeforeCatalogClaim()
      // the CAS: exactly one claimant of gen+1 wins; a lost claim
      // loops back to re-read the winner's generation and re-merge
      if (TsStore.commitExclusive(f, tmp, catalogGenFile(gen + 1))) {
        // post-claim verify — the ABA guard: GC deletes retired
        // generation FILES, which frees their slot NAMES, so a
        // claimant stalled long enough (read gen N, slept while
        // others advanced to N+3 and GC'd N+1) can win a claim of
        // N+1 that no reader will ever treat as newest — a silently
        // lost persist. A claim stands only while it is still the
        // MAX generation; otherwise drop it (never the max ⇒ no
        // reader resolved it ⇒ safe to delete) and retry against the
        // real newest. The benign case this also catches — a faster
        // engine claiming N+2 right after our N+1 — costs one
        // harmless re-merge (it already merged our content).
        if (listCatalogGens(f).lastOption.contains(gen + 1))
          committed = gen + 1
        else f.delete(catalogGenFile(gen + 1), false)
      }
    }
    // committed: retire superseded generations, keeping one behind for
    // readers that listed before this claim; the legacy single-file
    // sidecar (generation 0) is migrated — its content rode the merge
    listCatalogGens(f).filter(_ <= committed - 2)
      .foreach(n => f.delete(catalogGenFile(n), false))
    if (committed >= 2) f.delete(catalogFile, false)
  }

  private def loadEngineCatalog(): Unit = {
    val f = hadoopFs
    readNewestCatalog(f)._2.foreach { node =>
      import scala.jdk.CollectionConverters._
      // fail at open, before any store is touched: a root of the
      // retired flat layout would otherwise hit each TsStore's own
      // refusal one table at a time (or, for a never-saved table, not
      // at all)
      require(!(node.has("snapshots") && !node.path("snapshots").asBoolean()),
        s"$rootPath was written by the retired flat store layout " +
          "(\"snapshots\": false) — rewrite its tables into a new root; " +
          "it cannot be opened in place")
      rehydrating = true
      try {
        node.path("tables").properties().asScala
          .foreach(e => catalog.register(e.getValue.asText()))
        node.path("exposed").properties().asScala.foreach { e =>
          (0 until e.getValue.size()).foreach(i =>
            exposeSql(e.getKey, e.getValue.get(i).asText()))
        }
      } finally rehydrating = false
    }
    // sweep stale persist tmps — ONLY ones old enough that no live
    // persist can still be mid-claim with them (a fresh tmp may belong
    // to a concurrent engine whose link/rename is in flight)
    val rp = new org.apache.hadoop.fs.Path(rootPath)
    if (f.exists(rp)) {
      val cutoff = System.currentTimeMillis() - 10 * 60 * 1000L
      f.listStatus(rp).toSeq
        .filter(s => s.getPath.getName.startsWith("__catalog.tmp.") ||
          s.getPath.getName == "__catalog.json.tmp")
        .filter(_.getModificationTime < cutoff)
        .foreach(s => f.delete(s.getPath, false))
    }
  }

  /** `create`: declare a table from the schema DSL. The declaration is
    * persisted under `rootPath`, so a new Engine over the same root
    * serves `get`/`del`/`sub`/SQL without re-issuing any `create`. */
  def create(dsl: String): SdbSchema.Sdb = {
    requireCatalogUnfenced()
    val sdb = catalog.register(dsl)
    persistEngineCatalog()
    sdb
  }

  /** Evolve an EXISTING table to a new schema version WITHOUT
    * abandoning its history — the engine face of the reference's
    * version-tolerant convert (sis_dynamic.h:12-51: schema
    * dictionaries are exchanged and a field-by-field converter
    * bridges old and new record layouts; the rule, sis_dynamic
    * .h:110-117: same name + same style carries over — widening/
    * narrowing is a cast — different styles are NEVER coerced, the
    * target gets 0/"" instead, and fields absent from the source
    * likewise).
    *
    * After `evolve`, live reads serve the UNION of all eras aligned
    * to the new schema ([[graft.ops.Convert.align]] applied at the
    * cold-read boundary, per era group); new `set`s are typed under
    * the new schema; time travel ([[openSnapshotAt]] /
    * [[openSnapshotAllAt]]) to a pre-evolve generation serves the
    * OLD schema exactly as committed. The evolve itself is lazy (a
    * sidecar record, no data rewrite) — see
    * [[graft.store.TsStore.evolveSchema]].
    *
    * Invariants the store's identity depends on are REFUSED, not
    * silently rewritten: the main (time) index and the solely-field
    * set must keep their names and styles (they are the upsert key,
    * the day partitioning, and every range read's axis — changing
    * them is a re-key, i.e. a new table). A table currently exposed
    * to SQL must drop its exposure first: the backing parquet table
    * reads day dirs raw, so it cannot span schema eras (re-expose
    * after evolving — the new DDL then carries the new columns). */
  def evolve(dsl: String): SdbSchema.Sdb = synchronized {
    val next = SdbSchema.parse(dsl)
    if (catalog.get(next.name).isEmpty)
      throw new IllegalArgumentException(
        s"evolve: unknown table '${next.name}' — create it first")
    // open the store BEFORE reading prev: opening heals a torn
    // (post-crash) catalog from the store's recorded era history (see
    // storeOf — the era-record write is the evolve commit point, so a
    // crash between it and persistEngineCatalog leaves the sidecar one
    // era behind). With prev healed, the FIRST retry of an interrupted
    // evolve lands on the idempotent no-op path below instead of
    // TsStore's "evolve from the live schema" require.
    val store = storeOf(next.name)
    val prev = catalog.get(next.name).get
    if (prev == next) prev // idempotent no-op (guard, not a return —
    else {                 // no non-local exits under the monitor)
      def idx(s: SdbSchema.Sdb) = s.mainIndex.map(f => (f.name, f.style))
      require(idx(prev) == idx(next),
        s"evolve: the main index must not change (${idx(prev)} → " +
          s"${idx(next)}) — re-keying is a new table, not an evolution")
      def sole(s: SdbSchema.Sdb) = s.solelyFields.map(f => (f.name, f.style))
      require(sole(prev) == sole(next),
        s"evolve: the solely-field set must not change (${sole(prev)} → " +
          s"${sole(next)}) — it is the store's upsert identity")
      require(!sqlNames.contains(next.name),
        s"evolve: '${next.name}' is exposed to SQL — a parquet backing " +
          "table cannot span schema eras; drop the exposure, evolve, " +
          "then re-expose")
      requireCatalogUnfenced()
      store.evolveSchema(prev, next)
      catalog.register(next)
      persistEngineCatalog()
      next
    }
  }

  /** Test/instrumentation access to a table's store (fault-injection
    * hooks, staged-commit drills) — not part of the command surface. */
  private[graft] def storeHandle(table: String): TsStore = storeOf(table)

  /** The session time zone, the one [[Engine.dayOf]]'s `date_format`
    * names a timestamp's day in. */
  private def sessionZone = org.apache.spark.sql.catalyst.util.DateTimeUtils
    .getZoneId(spark.conf.get("spark.sql.session.timeZone"))

  private def storeOf(table: String): TsStore = {
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val timeField = sdb.mainIndex.map(_.name).getOrElse(
      throw new IllegalArgumentException(s"table '$table' has no main index"))
    stores.getOrElseUpdate(table, {
      val st = new TsStore(
        spark, s"$rootPath/$table", subject = "subject", time = timeField,
        soleCols = sdb.solelyFields.map(_.name),
        dayCol = Engine.dayOf(sdb, timeField),
        schema = Some(org.apache.spark.sql.types.StructType(
          sdb.structType.fields :+
            org.apache.spark.sql.types.StructField("subject",
              org.apache.spark.sql.types.StringType) :+
            org.apache.spark.sql.types.StructField("__day",
              org.apache.spark.sql.types.StringType))))
      st.autoVacuum = autoVacuumCfg
      // cross-table snapshot cuts pin generations beyond keepHistory:
      // any generation a retained cut record references must survive
      // this table's vacuum no matter how many newer generations land
      st.historyPins = () => cutPinsFor(table)
      // cut staleness is engine knowledge (cuts span tables); the
      // store's scheduled vacuum surfaces it when dialed
      st.staleCutAuditor = ms => {
        val w = staleCutWarnings(ms)
        lastStaleCutWarnings = w
        w
      }
      // heal the declaration from the store's own schema history: the
      // era-record write is the evolve commit point, so a crash
      // between it and persistEngineCatalog leaves the engine sidecar
      // one era behind — the store's latest recorded era wins (evolve
      // preserves the main index and solely fields, so the
      // constructor arguments above remain valid either way)
      st.latestEraSdb.filter(_ != sdb).foreach { evolved =>
        catalog.register(evolved)
        persistEngineCatalog()
      }
      // a staged-but-unmarked save is a saveAll that died BEFORE its
      // commit point: roll it back (all-pre) — the marker-covered case
      // is rolled forward by recoverAtomicCommit before any command
      if (!atomicMarker().exists(_.contains(table)))
        st.discardStagedSave()
      st
    })
  }

  private def splitKey(key: String): (String, String) = {
    val i = key.lastIndexOf('.')
    require(i > 0, s"key '$key' is not subject.table")
    (key.substring(0, i), key.substring(i + 1))
  }

  /** `set subject.table {json row or [rows]}`: typed parse per the
    * declared schema → staged into the hot tail → published to
    * matching subscribers (the reference publishes on every set,
    * sisdb.c:279). */
  def set(key: String, json: String): Long = {
    val (subject, table) = splitKey(key)
    setRow(subject, table, json)
  }

  /** `set` body with the subject/table already split — the entry point
    * for surfaces whose keys are NOT `subject.table` (the unstructured
    * ONE/MUL styles route bare keys here). */
  private def setRow(subject: String, table: String, json: String): Long = {
    // open the store BEFORE resolving the schema: opening heals the
    // catalog from the store's recorded era history (see storeOf), so
    // a write issued right after a crash mid-evolve types its rows
    // under the era the store actually writes
    val st = storeOf(table)
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val node = mapper.readTree(json)
    val rows: Seq[String] =
      if (node.isArray && node.size() > 0 && node.get(0).isArray)
        (0 until node.size()).map(i => node.get(i).toString)
      else if (node.isArray)
        (0 until node.size()).map(i => node.get(i).toString)
      else Seq(node.toString)
    import spark.implicits._
    val raw = rows.toDF("__json")
    val typed =
      (if (json.trim.startsWith("[[") ||
        (node.isArray && node.size() > 0 && node.get(0).isArray))
        Sources.fromArrayRows(raw, "__json", sdb)
      else Sources.fromJsonRows(raw, "__json", sdb))
        .drop("__json")
        .withColumn("subject", lit(subject))
    st.set(typed)
    subs.publish(typed, "subject", table)
    rows.size.toLong
  }

  /** `get subject.table {range|where, fields, count, format}` —
    * the full parameter matrix of sisdb_io.c:23-93. Returns the
    * DataFrame (format=s) or a rendered payload column (j/a/c).
    *
    * The table side may be a comma list (`get SH600600.stk_snapshot,
    * stk_trancat`, sisdb.h:44-49): the reply is then the union of each
    * table's RENDERED payload rows tagged with a `table` column —
    * table schemas differ, so a multi-table get requires a rendered
    * format (defaults to `j` when unspecified) and rejects `s`. */
  def get(key: String, paramsJson: String = "{}"): DataFrame = {
    val (subject, tablePart) = splitKey(key)
    val tables = tablePart.split(",").map(_.trim).filter(_.nonEmpty)
    require(tables.nonEmpty, s"key '$key' names no table")
    if (tables.length == 1) getOne(subject, tables.head, paramsJson)
    else {
      val p0 = mapper.readTree(SdbSchema.quoteBareWords(paramsJson))
      // normalize to the first char BEFORE validating — getOne
      // dispatches on headOption, so "sx" must fail here, not surface
      // later as a confusing missing-`payload` AnalysisException
      val fmt = (if (p0.has("format")) p0.get("format").asText("j") else "j")
        .headOption.getOrElse('j')
      require("sjac".contains(fmt), s"unknown get format '$fmt' (use s/j/a/c)")
      require(fmt != 's',
        "multi-table get returns rendered payloads — use format j/a/c")
      require(p0.isObject, s"get params must be a JSON object, got: $paramsJson")
      // optional per-table params: {tables:{t1:{fields:…}, t2:{range:…}}}
      // — each table's get may differ in fields/range/count; the shared
      // top-level keys apply to tables not listed. Formats stay
      // rendered either way (schemas differ across the union).
      val perTable = Option(p0.get("tables"))
      perTable.foreach { tn =>
        require(tn.isObject,
          s"multi-table get 'tables' must be an object of per-table params")
        import scala.jdk.CollectionConverters._
        // a typo'd table name would silently fall back to the shared
        // params — reject keys that name no table in the comma list
        tn.properties().asScala.foreach(e =>
          require(tables.contains(e.getKey),
            s"per-table params name '${e.getKey}', which is not in the " +
              s"requested tables ${tables.mkString(",")}"))
      }
      val withFmt =
        if (p0.has("format")) paramsJson
        else {
          val n = p0.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          n.put("format", "j"); n.toString
        }
      tables.map { t =>
        val pj = perTable.flatMap(tn => Option(tn.get(t))) match {
          case Some(per) =>
            require(per.isObject, s"per-table params for '$t' must be an object")
            val n = per.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
            if (n.has("format")) {
              val pf = n.get("format").asText("j").headOption.getOrElse('j')
              require("jac".contains(pf),
                s"per-table get format '$pf' must be rendered (j/a/c)")
            } else n.put("format", fmt.toString)
            n.toString
          case None => withFmt
        }
        getOne(subject, t, pj)
          .select(col("subject"), lit(t).as("table"), col("payload"))
      }.reduce(_ unionByName _)
    }
  }

  private def getOne(subject: String, table: String,
      paramsJson: String): DataFrame = {
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val timeField = sdb.mainIndex.map(_.name).getOrElse(
      throw new IllegalArgumentException(s"table '$table' has no main index"))
    val p = mapper.readTree(SdbSchema.quoteBareWords(paramsJson))
    // (start, stop, ifprev), parsed once: it selects the rows AND bounds
    // the days read
    val range = Option(p.get("range")).map { r =>
      (if (r.has("start")) r.get("start").asLong(-1L) else -1L,
        if (r.has("stop")) r.get("stop").asLong(0L) else 0L,
        r.has("ifprev") && r.get("ifprev").asInt(0) == 1)
    }
    // the days a ranged get can touch: stop = 0 is start's day, stop =
    // -1 is open above, ifprev is open below (the as-of fallback may
    // need earlier days); latest-row, where and unranged gets read all
    val (fromDay, toDay) = range match {
      case Some((start, stop, ifprev)) if start != -1L =>
        def day(v: Long) = Engine.dayOfIndex(sdb, timeField, v, sessionZone)
        (if (ifprev) None else day(start),
          if (stop == 0L) day(start) else if (stop == -1L) None else day(stop))
      case _ => (None, None)
    }
    // full sis_match_key vocabulary incl. comma lists
    // (`get SH600600,SH600601.stk_day …`, sisdb.h:44-49)
    val base = storeOf(table).read(fromDay, toDay)
      .filter(graft.store.KvStore.matchCond("subject", subject))

    val toLong: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => Engine.indexAsLong(sdb, timeField, c)

    val afterMatch = range match {
      case Some((start, stop, ifprev)) =>
        Query.range(base, "subject", timeField, start, stop, ifprev,
          toLong = toLong)
      case None if p.has("where") =>
        val w = p.get("where")
        Query.whereOffset(base, "subject", timeField,
          if (w.has("start")) w.get("start").asLong(0L) else 0L,
          if (w.has("offset")) w.get("offset").asInt(0) else 0,
          toLong = toLong)
      case None => base
    }

    val afterCount =
      if (p.has("count") && p.get("count").asInt(0) != 0)
        Query.limitPerSubject(afterMatch, "subject", timeField,
          p.get("count").asInt(0))
      else afterMatch

    val fieldNames: Seq[String] =
      if (p.has("fields") && p.get("fields").asText() != "*")
        p.get("fields").asText().split(",").map(_.trim).toSeq
      else sdb.fields.map(_.name)
    val projected = afterCount.select(
      (col("subject") +: fieldNames.map(col)): _*)

    val fmt =
      if (p.has("format")) p.get("format").asText("s").headOption.getOrElse('s')
      else 's'
    fmt match {
      case 's' => projected
      // render fields in REQUEST order (the reference renders array
      // payloads in the order the client asked for, not schema order)
      case code if "jac".contains(code) => Render.format(projected, code,
        SdbSchema.Sdb(sdb.name,
          fieldNames.flatMap(n => sdb.fields.find(_.name == n))))
      case other => throw new IllegalArgumentException(
        s"unknown get format '$other' (use s/j/a/c)")
    }
  }

  /** `show` (sisdb.c:15): catalog introspection — every declared table
    * with its field count and main index. */
  def show(): DataFrame = {
    import spark.implicits._
    catalog.tables.map { t =>
      val sdb = catalog.get(t).get
      (t, sdb.fields.size, sdb.mainIndex.map(_.name).getOrElse(""))
    }.toDF("table", "n_fields", "main_index").orderBy("table")
  }

  /** `show table`: the table's field declarations. */
  def show(table: String): DataFrame = {
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    import spark.implicits._
    sdb.fields.map(f => (f.name, f.style.toString, f.len, f.count, f.dot,
        f.mindex, f.solely))
      .toDF("field", "style", "len", "count", "dot", "mindex", "solely")
  }

  /** `gets keys` (sisdb.c:22): the LAST row per subject across a comma
    * list — sugar for a start=-1 ranged get. */
  def gets(key: String): DataFrame =
    get(key, """{range:{start:-1}}""")

  /** `keys pattern.table`: matching subjects; the table side may be a
    * comma list like `get`'s (sisdb.h:44-49) — the reply is the
    * distinct union across tables. */
  def keys(pattern: String): DataFrame = {
    val (subject, tablePart) = splitKey(pattern)
    val tables = tablePart.split(",").map(_.trim).filter(_.nonEmpty)
    require(tables.nonEmpty, s"pattern '$pattern' names no table")
    tables.map(t =>
        graft.store.KvStore.keys(storeOf(t).read(), "subject", subject))
      .reduce(_ unionByName _).distinct().orderBy("subject")
  }

  /** M2 `bset subject.table <packed rows>` — the binary sibling of
    * `set` (sisdb.h:44-49): each payload is one packed row in the
    * table's declared fixed-width layout
    * ([[graft.sources.BinaryRows]], zint prices included). Decoded,
    * staged and published exactly like JSON sets. */
  def bset(key: String, packedRows: Seq[Array[Byte]]): Long = {
    val (subject, table) = splitKey(key)
    storeOf(table) // open first: heals the catalog post-crash (see setRow)
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    import spark.implicits._
    val typed = packedRows.toDF("__bin")
      .select(graft.sources.BinaryRows.unpack(col("__bin"), sdb).as("__row"))
      .select("__row.*")
      .withColumn("subject", lit(subject))
    storeOf(table).set(typed)
    subs.publish(typed, "subject", table)
    packedRows.size.toLong
  }

  /** `del subject.table {range:{start, stop}}` (M5): targeted
    * anti-filter delete. Only the day partitions the range can touch
    * are rewritten — O(days in range), the reference's per-block erase
    * (sisdb_fmap_write.c:135-196) — never a store rewrite (round 7's
    * one flagged scale-killer). The subject side takes the full
    * sis_match_key vocabulary (comma lists, prefix `*`). */
  def del(key: String, paramsJson: String): Unit = {
    val (subject, table) = splitKey(key)
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val timeField = sdb.mainIndex.map(_.name).get
    val p = mapper.readTree(SdbSchema.quoteBareWords(paramsJson))
    // the reference's del sentinels (sisdb_io.c:246-288), mirroring
    // get's range vocabulary: `range` REQUIRES start (else the whole
    // command is a no-op — "必须带参数 否则不执行删除操作"); a missing
    // stop defaults to START (a point delete, not "up to index 0");
    // stop == -1 is open-ended; `where:{start}` is an exact-index
    // point delete; and no range/where at all deletes nothing.
    val bounds: Option[(Long, Long)] =
      if (p.has("range")) {
        val r = p.get("range")
        if (!r.has("start")) None
        else {
          val start = r.get("start").asLong(0L)
          val stop = if (r.has("stop")) r.get("stop").asLong(start) else start
          Some((start, if (stop == -1L) Long.MaxValue else stop))
        }
      } else if (p.has("where")) {
        val w = p.get("where")
        if (!w.has("start")) None
        else { val s = w.get("start").asLong(0L); Some((s, s)) }
      } else None
    bounds.foreach { case (start, stop) =>
      val st = storeOf(table)
      if (!st.isEmpty) { // benign no-data case, like the reference
        val cond = graft.store.KvStore.matchCond("subject", subject) &&
          Engine.indexAsLong(sdb, timeField, col(timeField)).between(start, stop)
        st.deleteWhere(cond,
          Engine.dayInRange(sdb, timeField, start, stop, sessionZone))
      }
    }
  }

  /** `dels` — comma-list sugar over [[del]] (memdb.h command table):
    * the subject side of [[del]] already takes the full match
    * vocabulary, so this is the same call. */
  def dels(key: String, paramsJson: String): Unit = del(key, paramsJson)

  /** `drop subject.table` (M6): O(1) tombstone — no data rewrite; dead
    * rows are erased physically at `pack` (the reference's moved-block
    * design, sisdb_io.c:297-306). The subject side may be a comma list
    * of exact keys. */
  def drop(key: String): Unit = {
    val (subject, table) = splitKey(key)
    val st = storeOf(table)
    if (st.isEmpty) return // benign no-data case, like the reference
    val subjects = subject.split(",").map(_.trim).filter(_.nonEmpty)
    // drop takes EXACT keys: a wildcard would be tombstoned as a
    // literal string — matching nothing, polluting the meta file and
    // every rebuilt SQL view — so refuse it loudly (del takes the
    // pattern vocabulary; drop mirrors the reference's exact-key form)
    subjects.find(_.contains("*")).foreach(p =>
      throw new IllegalArgumentException(
        s"drop takes exact keys, not patterns ('$p') — " +
          "resolve with keys() first or use del"))
    subjects.foreach(st.dropSubject)
  }

  def save(table: String): Unit = storeOf(table).save()
  def pack(table: String, files: Int = 4): Unit = storeOf(table).pack(files)

  // ── ATOMIC MULTI-TABLE COMMIT. Per-table saves are independent
  // commits, so a reader between two of them sees table A new /
  // table B old — a state no single point in time ever held. The
  // reference gets cross-key consistency implicitly from its strictly
  // serial dispatcher (sisdb_server.c:474-476 "必须堵塞处理" — every
  // write drains before the next command); a distributed store needs
  // an explicit protocol:
  //
  //   1. STAGE    every table's commit durably but inertly
  //               (TsStore.stageSave: the save tmp + commit manifest,
  //               live manifest untouched, ignored by the store's own
  //               open-time recovery);
  //   2. MARK     one marker file (tmp + atomic rename, the
  //               snapshotAll discipline) naming every table and its
  //               PRE-commit generation — THE commit point;
  //   3. FINALIZE each table (TsStore.finalizeStagedSave — the save
  //               commit over the staged instruction, idempotently
  //               replayable);
  //   4. RELEASE  the marker.
  //
  // Crash anywhere: before the marker, the staged tmps are rolled
  // BACK at the next open (nothing ever served them — all-pre);
  // after the marker, the next open rolls every staged table FORWARD
  // and releases the marker (all-post). While the marker exists —
  // in-flight or crashed — [[openAtomicSnapshot]] serves every listed
  // table AT its recorded pre-commit generation, so no multi-table
  // reader can observe the half-committed middle; the immutability of
  // committed generations is what makes the pre view stay whole under
  // the concurrent finalizes.

  private def atomicMarkerFile = new org.apache.hadoop.fs.Path(
    s"${rootPath.stripSuffix("/")}/__atomic_commit.json")

  /** The in-flight (or crashed) saveAll's {table → pre-commit
    * generation}, or None when no atomic commit is pending. */
  private[graft] def atomicMarker(): Option[Map[String, Long]] = {
    val f = hadoopFs
    if (!f.exists(atomicMarkerFile)) None
    else {
      val node = mapper.readTree(
        TsStore.readJsonBytes(f, atomicMarkerFile))
      import scala.jdk.CollectionConverters._
      Some(node.path("tables").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap)
    }
  }

  private def writeAtomicMarker(pre: Seq[(String, Long)]): Unit = {
    val f = hadoopFs
    val root = mapper.createObjectNode()
    root.put("at", System.currentTimeMillis())
    val tn = root.putObject("tables")
    pre.foreach { case (t, g) => tn.put(t, g) }
    val tmp = new org.apache.hadoop.fs.Path(
      atomicMarkerFile.toString + ".tmp")
    val out = f.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(root)) finally out.close()
    TsStore.atomicReplace(f, tmp, atomicMarkerFile)
  }

  private def clearAtomicMarker(): Unit =
    hadoopFs.delete(atomicMarkerFile, false)

  /** Commit every table's hot tail as ONE atomic point (see the
    * protocol block above). Returns table → committed generation.
    * Tombstone drift (a drop on a fully-flushed table) commits with
    * the same marker protection, so a cut-style reader never
    * resurrects a dropped subject from half a saveAll.
    *
    * Every listed store's monitor is held for the WHOLE stage→marker→
    * finalize span (acquired in sorted-table order — the one
    * multi-monitor site, so the order is trivially consistent). The
    * single-table [[save]] excludes concurrent `set()`s by being one
    * synchronized body; splitting it into stage and finalize would
    * otherwise open a window where a set() lands hot rows that
    * finalize's clearHot() then discards uncommitted — silent loss —
    * and a set() crossing maxHotRows would even nest a save() that
    * makes the staged manifest's target generation stale. Holding the
    * monitors makes a concurrent set() block for the saveAll span,
    * exactly as it blocks for a save() on its own table. */
  def saveAll(tables: Seq[String] = Seq.empty): Map[String, Long] =
    synchronized {
      val ts = (if (tables.nonEmpty) tables
                else catalog.tables.toSeq).distinct.sorted
      require(ts.nonEmpty, "saveAll: no tables declared")
      val sts = ts.map(t => t -> storeOf(t))
      def holding[A](rem: List[TsStore])(body: => A): A = rem match {
        case Nil => body
        case h :: rest => h.synchronized(holding(rest)(body))
      }
      holding(sts.map(_._2).toList) {
        sts.foreach { case (_, st) => st.stageSave() }
        writeAtomicMarker(sts.map { case (t, st) =>
          t -> st.currentGeneration })
        sts.foreach { case (_, st) =>
          st.finalizeStagedSave()
          st.commitPendingTombstones()
        }
        clearAtomicMarker()
        sts.map { case (t, st) => t -> st.currentGeneration }.toMap
      }
    }

  /** Marker-aware multi-table read: while a [[saveAll]] is in flight
    * (or died mid-finalize), every listed table serves AT its
    * recorded pre-commit generation — all-pre; otherwise each table's
    * current committed snapshot — all-post. Never a mix. Tables with
    * no committed corpus map to None (the [[openSnapshotAllAt]]
    * convention).
    *
    * Synchronized with [[saveAll]] (which holds the engine lock for
    * its whole stage→marker→finalize span): an unsynchronized reader
    * could resolve the marker as absent, open table A pre-commit,
    * lose the CPU for an entire saveAll, and then open table B
    * post-commit — the exact mix this method exists to prevent.
    * Out-of-process readers are serialized by the marker itself (it
    * exists for the whole window in which any table is mid-commit). */
  def openAtomicSnapshot(tables: Seq[String] = Seq.empty)
      : Map[String, Option[DataFrame]] = synchronized {
    val ts = if (tables.nonEmpty) tables else catalog.tables.toSeq.sorted
    val marker = atomicMarker()
    // an in-flight (or crashed) RESTORE likewise must never serve a
    // mixed view: while its marker exists, every cut-listed table
    // serves AT the cut — the restore's target state, which the
    // marker guarantees will be reached (roll-forward at open)
    val restoring = restoreMarker().flatMap(cutRecord)
    ts.map { t =>
      storeOf(t)
      marker.flatMap(_.get(t))
        .orElse(restoring.flatMap(_.get(t))) match {
        case Some(g) => t -> (if (g <= 0L) None else openSnapshotAt(t, g))
        case None => t -> openSnapshot(t)
      }
    }.toMap
  }

  /** Open-time atomic-commit recovery: a surviving marker means a
    * saveAll died after its commit point — roll every listed table
    * forward (finalize is replayable; already-finalized tables are
    * no-ops) and release the marker. Runs before any command can
    * touch the tables. Staged tmps with NO marker (death before the
    * commit point) are rolled back lazily by [[storeOf]]. */
  private def recoverAtomicCommit(): Unit =
    atomicMarker().foreach { m =>
      m.keys.toSeq.sorted.foreach { t =>
        val st = storeOf(t)
        st.finalizeStagedSave()
        st.commitPendingTombstones()
      }
      clearAtomicMarker()
    }

  /** Reclaim version dirs no committed manifest (inside the grace
    * windows) can reference — see [[TsStore.vacuum]], whose defaults
    * these forward (one retention contract, not two copies that can
    * drift). The only reclamation besides [[autoVacuum]]: without
    * either, superseded versions stay on disk. Returns stale-cut
    * warnings when `cutMaxAgeMs > 0` (see [[staleCutWarnings]]):
    * vacuum is where a deployment notices a forgotten cut, because
    * cuts are the one pin no retention dial ever expires —
    * age-flagged here, reclaimed only by an explicit
    * [[dropSnapshotCut]] (the warning never auto-drops: a cut is a
    * reproducibility promise someone recorded on purpose). */
  def vacuum(table: String,
      keepSuperseded: Int = TsStore.DefaultKeepSuperseded,
      removedDayGraceMs: Long = TsStore.DefaultRemovedDayGraceMs,
      keepHistory: Int = TsStore.DefaultKeepHistory,
      supersededGraceMs: Long = 0L,
      cutMaxAgeMs: Long = 0L): Seq[String] = {
    storeOf(table).vacuum(keepSuperseded, removedDayGraceMs, keepHistory,
      supersededGraceMs)
    staleCutWarnings(cutMaxAgeMs)
  }

  /** Opt-in SCHEDULED vacuum for every table of this engine: after
    * each cold commit whose generation number is a multiple of
    * `everyGenerations`, the table's store runs [[vacuum]] with the
    * given retention dials (defaults = the shared [[TsStore]]
    * contract). The reference schedules its own save/pack
    * housekeeping the same way (sisdb.c:137-169); without this, a
    * deployment that never calls vacuum() accumulates superseded
    * version dirs and generation records without bound. Applies to
    * already-open stores and to every store opened later; pass
    * `everyGenerations = 0` to disable. Readers pinned within the
    * grace dials are unaffected — the auto run reclaims exactly what
    * a manual vacuum with these dials would.
    *
    * `cutMaxAgeMs > 0` additionally audits the engine's snapshot cuts
    * on every auto run ([[staleCutWarnings]]) — cuts are the one pin
    * no retention dial expires, so without this a forgotten cut pins
    * its generations silently forever on a deployment that only ever
    * vacuums through this scheduler. Warnings are logged by the store
    * that triggered the run and kept in [[lastStaleCutWarnings]];
    * nothing auto-drops ([[dropSnapshotCut]] stays the single release
    * point). */
  def autoVacuum(everyGenerations: Int,
      keepSuperseded: Int = TsStore.DefaultKeepSuperseded,
      removedDayGraceMs: Long = TsStore.DefaultRemovedDayGraceMs,
      keepHistory: Int = TsStore.DefaultKeepHistory,
      supersededGraceMs: Long = 0L,
      cutMaxAgeMs: Long = 0L): Unit = {
    autoVacuumCfg =
      if (everyGenerations <= 0) None
      else Some(TsStore.AutoVacuum(everyGenerations, keepSuperseded,
        removedDayGraceMs, keepHistory, supersededGraceMs, cutMaxAgeMs))
    stores.values.foreach(_.autoVacuum = autoVacuumCfg)
  }
  @volatile private var autoVacuumCfg: Option[TsStore.AutoVacuum] = None

  /** The stale-cut warnings the most recent auto-vacuum audit emitted
    * (empty until a `cutMaxAgeMs`-dialed auto run fires) — the
    * programmatic face of the logged lines, so a deployment's own
    * housekeeping can route them somewhere durable. */
  @volatile var lastStaleCutWarnings: Seq[String] = Seq.empty

  /** Committed snapshot generations available for time travel on
    * `table`, ascending. */
  def snapshotVersions(table: String): Seq[Long] =
    storeOf(table).snapshotVersions

  /** Time-travel read through the command surface: `table` exactly as
    * snapshot generation `v` committed it (including the tombstones
    * live at that commit — a later `drop` does not rewrite history).
    * The reproducibility primitive for training pipelines: record the
    * generation a run consumed, keep it inside `vacuum`'s
    * `keepHistory` horizon, and any later job re-reads the identical
    * corpus. None when the generation is unknown or vacuumed out. */
  def openSnapshotAt(table: String, v: Long): Option[DataFrame] =
    // routed through the handle's pinned-plan memo: a drill (or a
    // training loop) re-opening the same pin pays the version-dir
    // listing and footer inference once per generation, not per call
    storeOf(table).openPinned(v, "subject")

  /** Row-level change feed between two committed generations — the
    * store's time-travel history turned into CDC
    * ([[graft.ops.Cdc.diff]]): one row per upsert key (subject +
    * main-index time) that `vTo` inserted, deleted, or changed
    * relative to `vFrom`, with the old/new payload structs carried.
    * The incremental-consumer contract: applying the feed to the
    * `vFrom` state reproduces `vTo` exactly, so a downstream pipeline
    * (index maintenance, sketch append, training-mix refresh)
    * processes O(changes) instead of re-reading the table.
    *
    * A diff ACROSS a schema-evolve boundary aligns the older pin to
    * the NEWER pin's era first ([[graft.ops.Convert.alignKeeping]],
    * the same never-cross-type rule every live read applies —
    * sis_dynamic.h:12-51 converts on every read path for exactly
    * this reason): an added field reads 0/"" on the old side, so a
    * row untouched across the boundary compares UNCHANGED (its
    * era-1 rewrite zero-fills identically) and a genuine change
    * classifies as an update, never a phantom delete+insert pair.
    * The upsert key survives alignment by construction — [[evolve]]
    * refuses main-index changes. Cost: two pinned snapshot reads +
    * one full-outer join on the upsert key — the align is a
    * projection Catalyst pushes into the old pin's scan, nothing but
    * changed rows survive the join. */
  def changesBetween(table: String, vFrom: Long, vTo: Long): DataFrame = {
    val st = storeOf(table)
    def pin(v: Long) = openSnapshotAt(table, v).getOrElse(
      throw new IllegalArgumentException(
        s"changesBetween: generation $v of '$table' is unknown or " +
          "vacuumed"))
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val timeField = sdb.mainIndex.map(_.name).getOrElse(
      throw new IllegalArgumentException(
        s"changesBetween: table '$table' has no main index"))
    val from0 = pin(vFrom).drop("__day")
    val to0 = pin(vTo).drop("__day")
    // cross-era: each pin serves the schema live AT its generation, so
    // a feed spanning an evolve aligns the older side to the newer era
    // (old→new, mirroring how the evolve itself migrates forward)
    val from = (st.eraSdbAt(vFrom), st.eraSdbAt(vTo)) match {
      case (Some(f), Some(t)) if f != t =>
        graft.ops.Convert.alignKeeping(from0, f, t, Seq("subject"))
      case _ => from0
    }
    // the store's upsert identity is (subject, solely…, __day, time)
    // (TsStore.set) and __day derives from time, so (subject,
    // solely…, time) is unique by construction on every committed
    // generation — the full key set MUST ride the diff (keying a
    // solely table on (subject, time) alone would fan out its
    // legitimate same-timestamp rows into phantom updates), and with
    // it guaranteed unique, the public op's duplicate-key guard (a
    // per-side keyed aggregation) would pay for a violation that
    // cannot happen here. Solely fields survive alignment: evolve
    // refuses changing them.
    val keys = Seq("subject") ++ sdb.solelyFields.map(_.name) :+ timeField
    graft.ops.Cdc.diff(from, to0, keys, assertUniqueKeys = false)
  }

  /** The out-of-process reader contract through the engine surface:
    * pin the table's current committed snapshot and read it whole for
    * as long as the frame lives, regardless of concurrent
    * saves/deletes/packs (until a vacuum whose grace the deployment
    * must set ≥ this reader's runtime). None when the table has no
    * cold data. Tombstones
    * apply exactly as the owning store's reads do. Routed through
    * [[storeOf]] first: an unknown table throws like every other
    * command (not a silent None), and opening the store rolls any
    * crashed-but-acknowledged commit forward before the pin — without
    * it, the pinned view would depend on whether some OTHER command
    * had already touched the table this process. */
  def openSnapshot(table: String): Option[DataFrame] =
    // served from the handle (cold plan cache + in-memory tombstones,
    // which the sidecar mirrors): same pinned-manifest contract as
    // the static out-of-process reader, without re-listing version
    // dirs and re-inferring footers on every call
    storeOf(table).openLive()

  // ── ENGINE-WIDE CONSISTENT SNAPSHOT CUT. Per-table time travel
  // (openSnapshotAt / exposeSqlAt) cannot record one reproducible
  // point across N tables — generations drift as commits interleave,
  // and a training run consuming events + factors + text (the
  // reference's multi-table read pattern, frwdb_reader.c:676-905)
  // needs ONE number that re-reads the identical multi-table corpus
  // months later. A cut is {table → committed generation}, recorded
  // atomically (tmp + rename, first-writer-wins) under
  // `rootPath/__snapcuts/cut=N.json` AFTER flushing every listed
  // table — the engine is single-writer, so no commit can interleave
  // between the flushes and the record. Vacuum honors cuts: every
  // generation a retained cut references is pinned past keepHistory
  // (wired per-store via TsStore.historyPins), so the cut stays
  // readable until the deployment drops it ([[dropSnapshotCut]]).
  //
  // RETENTION CONTRACT: a cut is an UNBOUNDED pin by design — every
  // other retention surface is a count or a grace window, but a cut
  // holds its generations for as long as the record exists, because
  // it is a reproducibility promise (a training run recorded it to
  // re-read the identical corpus later). The lifecycle is therefore
  // explicit: [[listCuts]] audits every retained cut with its age
  // and pinned generations; [[vacuum]]'s optional `cutMaxAgeMs` dial
  // flags cuts older than the deployment's reproducibility horizon
  // (warnings only — nothing auto-drops); [[dropSnapshotCut]] is the
  // single release point, after which the pinned generations fall
  // back to ordinary keepHistory retention at each table's next
  // vacuum. A deployment that cuts on a cadence should pair it with
  // an equal-cadence listCuts review or a cutMaxAgeMs on its vacuum.

  private def cutsDir = new org.apache.hadoop.fs.Path(
    s"${rootPath.stripSuffix("/")}/__snapcuts")
  private val CutFile = "^cut=(\\d+)\\.json$".r

  /** Record a consistent cut across `tables` (default: every declared
    * table): flush each table's hot tail, then atomically record each
    * table's committed generation under one monotonic cut id.
    * Returns the cut id — the single number a training run records. */
  def snapshotAll(tables: Seq[String] = Seq.empty): Long = synchronized {
    val ts = if (tables.nonEmpty) tables else catalog.tables.toSeq.sorted
    require(ts.nonEmpty, "snapshotAll: no tables declared")
    // flush first: the cut must include rows already set() — a cut
    // that silently excluded the hot tail would not be "the corpus as
    // of now". Tombstone-only mutations (a drop on a fully-flushed
    // table) never pass through save(), so each table additionally
    // commits a tombstone-only generation if its live map drifted
    // past the last record — without it the cut would RESURRECT the
    // dropped subject. Single-writer ⇒ nothing commits between these
    // flushes and the record below.
    ts.foreach { t =>
      val st = storeOf(t)
      st.save()
      st.commitPendingTombstones()
    }
    val gens = ts.map(t => t -> storeOf(t).currentGeneration)
    val f = hadoopFs
    f.mkdirs(cutsDir)
    val cut = snapshotCuts.lastOption.getOrElse(0L) + 1
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("cut", cut)
    root.put("at", System.currentTimeMillis())
    val tn = root.putObject("tables")
    gens.foreach { case (t, v) => tn.put(t, v) }
    val tmp = new org.apache.hadoop.fs.Path(cutsDir, s"cut=$cut.json.tmp")
    val dest = new org.apache.hadoop.fs.Path(cutsDir, s"cut=$cut.json")
    val out = f.create(tmp, true)
    try out.write(m.writeValueAsBytes(root)) finally out.close()
    if (!f.rename(tmp, dest)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"could not record snapshot cut $cut")
    }
    // the writer already holds the record — seed the immutable-record
    // cache so the cut's first vacuum pays no sidecar read at all
    cutRecordCache.synchronized { cutRecordCache.put(cut, gens.toMap) }
    cut
  }

  /** Recorded cut ids, ascending. */
  def snapshotCuts: Seq[Long] = {
    val f = hadoopFs
    if (!f.exists(cutsDir)) Seq.empty
    else f.listStatus(cutsDir).map(_.getPath.getName)
      .collect { case CutFile(n) => n.toLong }.toSeq.sorted
  }

  /** One retained cut's lifecycle facts: when it was recorded, how
    * old it is, and exactly which {table → generation} pairs it pins
    * past vacuum reclamation. */
  final case class CutInfo(id: Long, at: Long, ageMs: Long,
      tables: Map[String, Long])

  /** Every retained cut with its age and pinned generations — the
    * lifecycle audit surface for the cut retention contract (see
    * [[snapshotAll]]'s block comment): a cut pins its generations
    * FOREVER until [[dropSnapshotCut]], so a forgotten cut is a
    * reclamation blocker, and this listing is how a deployment finds
    * it. Cost: one dir listing + one (cached-map) sidecar read per
    * cut; the `at` stamp reads the immutable record directly. */
  def listCuts(now: Long = System.currentTimeMillis()): Seq[CutInfo] =
    snapshotCuts.map { id =>
      val at = mapper.readTree(TsStore.readJsonBytes(hadoopFs,
        new org.apache.hadoop.fs.Path(cutsDir, s"cut=$id.json")))
        .path("at").asLong(0L)
      CutInfo(id, at, math.max(0L, now - at),
        cutRecord(id).getOrElse(Map.empty))
    }

  /** Cuts older than `maxAgeMs`, rendered as actionable warnings —
    * the optional staleness dial [[vacuum]] surfaces: retention
    * dials bound every OTHER pin (keepSuperseded / keepHistory /
    * graces are counts and windows), but a cut pins until dropped,
    * so age is the only signal a deployment has that one was
    * forgotten. `maxAgeMs <= 0` disables (default). */
  def staleCutWarnings(maxAgeMs: Long,
      now: Long = System.currentTimeMillis()): Seq[String] =
    if (maxAgeMs <= 0L) Seq.empty
    else listCuts(now).filter(_.ageMs > maxAgeMs).map { c =>
      s"cut ${c.id} is ${c.ageMs} ms old (> $maxAgeMs ms): it pins " +
        c.tables.toSeq.sortBy(_._1)
          .map { case (t, v) => s"$t@$v" }.mkString(", ") +
        " past every vacuum until dropSnapshotCut(" + c.id + ")"
    }

  // cut records are IMMUTABLE once written (create-only, delete-only),
  // so they are cached by id: the per-vacuum pin derivation costs one
  // dir listing plus a sidecar read per never-seen cut, not O(cuts)
  // reads every cadence (a fleet cutting daily for years accretes
  // thousands of records). A cut dropped by ANOTHER process can serve
  // from this cache until the next pin derivation prunes it against
  // the live listing — harmless under the engine's single-writer
  // contract (a stale openSnapshotAllAt degrades to unavailable
  // tables, never to silently different data).
  private val cutRecordCache =
    scala.collection.mutable.Map.empty[Long, Map[String, Long]]
  /** Spec instrumentation: sidecar files actually read (cache misses). */
  private[graft] var cutRecordLoads: Long = 0L

  /** A cut's recorded {table → generation}, or None if unknown. */
  def cutRecord(cut: Long): Option[Map[String, Long]] =
    cutRecordCache.synchronized {
      cutRecordCache.get(cut).orElse {
        val f = hadoopFs
        val p = new org.apache.hadoop.fs.Path(cutsDir, s"cut=$cut.json")
        if (!f.exists(p)) None
        else {
          cutRecordLoads += 1
          val node = mapper.readTree(TsStore.readJsonBytes(f, p))
          import scala.jdk.CollectionConverters._
          val rec = node.path("tables").properties().asScala
            .map(e => e.getKey -> e.getValue.asLong()).toMap
          cutRecordCache.put(cut, rec)
          Some(rec)
        }
      }
    }

  /** Open every table of a recorded cut EXACTLY as its recorded
    * generation committed it — the multi-table face of
    * [[openSnapshotAt]]. A table whose recorded generation is 0 (no
    * data had ever been committed at cut time) or whose record was
    * vacuumed past retention maps to None — unavailable, never a
    * silently different corpus. */
  def openSnapshotAllAt(cut: Long): Map[String, Option[DataFrame]] = {
    val rec = cutRecord(cut).getOrElse(throw new IllegalArgumentException(
      s"unknown snapshot cut $cut (recorded: ${snapshotCuts.mkString(", ")})"))
    rec.map { case (t, v) =>
      t -> (if (v <= 0L) None else openSnapshotAt(t, v))
    }
  }

  /** ROLLBACK: restore every table of a recorded cut to its pinned
    * generation — the recovery half of the cut lifecycle
    * ([[snapshotAll]] records the point; this returns the live corpus
    * to it after a bad ingest/delete/drop). Each table restore is a
    * [[graft.store.TsStore.restoreTo]] roll-forward commit:
    * metadata-only (the new manifest re-points at the cut's pinned
    * version dirs — no data moves at any corpus size), hot tails are
    * discarded, tombstones revert to the cut's as-of records, and
    * history is never rewritten — post-cut generations stay
    * time-travelable and a mistaken rollback is undone by another
    * cut/restore. The cut's own pins are exactly what guarantee the
    * restore targets still exist, however aggressive vacuum has been
    * since. The cut stays retained afterwards (it now pins the very
    * generations the live manifests point at); drop it only once the
    * restored state has itself been superseded. Tables recorded at
    * generation 0 (no corpus at cut time) are skipped — restore
    * cannot reconstruct "never committed". Returns table → new live
    * generation.
    *
    * CRASH-RECOVERABLE: a restore marker (the cut id) spans the
    * per-table loop — a crash mid-loop rolls FORWARD at the next
    * engine open ([[recoverRestore]]) and, while the marker exists,
    * [[openAtomicSnapshot]] serves every cut-listed table AT the cut,
    * so no multi-table reader observes the half-restored middle. */
  def restoreToCut(cut: Long): Map[String, Long] = synchronized {
    val rec = cutRecord(cut).getOrElse(throw new IllegalArgumentException(
      s"unknown snapshot cut $cut (recorded: ${snapshotCuts.mkString(", ")})"))
    val targets = rec.toSeq.sortBy(_._1).collect { case (t, v) if v > 0L =>
      (t, v, storeOf(t)) // storeOf throws on an unknown table — before
    }                    // any restore commits, not between two
    // validate EVERY target before the first commit: a cut with one
    // unrestorable table must fail fast, never fail-partial (half the
    // corpus at the cut, half live — a state no cut ever recorded).
    // A fence/IO failure mid-loop can still land partial (each table
    // commit is independent by design), so the span is MARKED: the
    // restore marker (cut id) lands durably after validation and
    // clears only after the last table committed. A crash mid-loop is
    // rolled FORWARD at the next open (recoverRestore re-runs this
    // method — every per-table restore is an idempotent roll-forward
    // commit), and while the marker exists [[openAtomicSnapshot]]
    // serves every cut-listed table AT the cut (the restore's target
    // state — the marker is the commit point, after which the restore
    // provably completes), so no multi-table reader observes the
    // half-restored middle.
    targets.foreach { case (_, v, st) => st.validateRestore(v) }
    writeRestoreMarker(cut)
    val out = targets.map { case (t, v, st) => t -> st.restoreTo(v) }.toMap
    clearRestoreMarker()
    out
  }

  private def restoreMarkerFile = new org.apache.hadoop.fs.Path(
    s"${rootPath.stripSuffix("/")}/__restore_marker.json")

  /** The in-flight (or crashed) restore's target cut, or None. */
  private[graft] def restoreMarker(): Option[Long] = {
    val f = hadoopFs
    if (!f.exists(restoreMarkerFile)) None
    else Some(mapper.readTree(
      TsStore.readJsonBytes(f, restoreMarkerFile)).path("cut").asLong())
  }

  private def writeRestoreMarker(cut: Long): Unit = {
    val f = hadoopFs
    val node = mapper.createObjectNode()
    node.put("cut", cut)
    node.put("at", System.currentTimeMillis())
    val tmp = new org.apache.hadoop.fs.Path(
      restoreMarkerFile.toString + ".tmp")
    val out = f.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    TsStore.atomicReplace(f, tmp, restoreMarkerFile)
  }

  private def clearRestoreMarker(): Unit =
    hadoopFs.delete(restoreMarkerFile, false)

  /** Open-time restore recovery: a surviving restore marker means a
    * [[restoreToCut]] died mid-loop — roll it forward (re-running the
    * restore is idempotent; the cut's own pins guarantee the targets
    * still exist) and the re-run clears the marker. Runs after
    * [[recoverAtomicCommit]] (the restore targets are cut-pinned
    * generations, untouched by a commit roll-forward) and before any
    * command can touch the tables. */
  private def recoverRestore(): Unit =
    restoreMarker().foreach(restoreToCut)

  /** Register the whole cut as frozen SQL views — [[exposeSqlAt]] per
    * recorded (table, generation), `<db>.<table>__v<v>` each. Returns
    * table → qualified view name (tables with generation 0 at cut
    * time are skipped — they had no committed corpus to freeze). */
  def exposeSqlAllAt(cut: Long, db: String = "graft"): Map[String, String] = {
    val rec = cutRecord(cut).getOrElse(throw new IllegalArgumentException(
      s"unknown snapshot cut $cut (recorded: ${snapshotCuts.mkString(", ")})"))
    rec.collect { case (t, v) if v > 0L => t -> exposeSqlAt(t, v, db) }
  }

  /** Export a recorded cut as a SELF-CONTAINED file manifest: one
    * JSON document listing, per table, the cut generation, every
    * concrete data file of every pinned (day → version) directory
    * (with sizes), and the generation's as-of tombstones. A reader
    * holding ONLY this manifest — a trainer on another cluster, a
    * different engine, plain pyarrow — reproduces the cut exactly:
    * read the listed files, apply the one kill predicate per
    * tombstone entry (`NOT (subject = s AND __seq <= g)`), drop
    * `__seq`. No engine, no catalog, no manifest-chasing: the export
    * IS the corpus description, which is what makes a recorded cut
    * consumable outside this process. Fails loudly if any referenced
    * generation's record was vacuumed (a dropped cut does not
    * silently export a different corpus). Cost: one sidecar read per
    * table + one listing per pinned day dir — metadata only.
    * Written atomically (tmp + rename); returns the manifest path. */
  def exportCutManifest(cut: Long, outPath: String): String = {
    val rec = cutRecord(cut).getOrElse(throw new IllegalArgumentException(
      s"unknown snapshot cut $cut (recorded: ${snapshotCuts.mkString(", ")})"))
    val f = hadoopFs
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("cut", cut)
    val tn = root.putObject("tables")
    rec.toSeq.sortBy(_._1).foreach { case (t, v) =>
      val node = tn.putObject(t)
      node.put("generation", v)
      // tombstones/files are ALWAYS present (empty for a generation-0
      // table) — an external reader follows one uniform schema with
      // no missing-node special case
      val tb = node.putObject("tombstones")
      val fl = node.putArray("files")
      if (v > 0L) {
        val tablePath = s"$rootPath/$t"
        val (days, tombs) = graft.store.TsStore.readHistRecord(
          f, tablePath, v).getOrElse(throw new IllegalStateException(
            s"cut $cut references generation $v of '$t' whose record " +
              "was vacuumed — drop the cut instead of exporting a " +
              "different corpus"))
        // the manifest contract hands an engineless reader RAW files;
        // it has no align rule, so every pinned dir must self-describe
        // ONE schema. Cross-era pins stay readable via the aligned
        // openSnapshotAllAt; exportable cuts of an evolved table are
        // those taken after a pack (which rewrites every day into the
        // live era).
        val eras = graft.store.TsStore.readEras(f, tablePath)
        if (eras.size > 1) {
          val spanned = days.values
            .map(dv => graft.store.TsStore.eraOfGen(eras, dv)).toSet
          require(spanned.size <= 1,
            s"cut $cut pins day dirs of '$t' from ${spanned.size} schema " +
              "eras — a raw-file manifest cannot align eras; read the cut " +
              "via openSnapshotAllAt, or pack + re-cut to export")
        }
        tombs.toSeq.sortBy(_._1).foreach { case (s, g) => tb.put(s, g) }
        days.toSeq.sortBy(_._1).foreach { case (day, ver) =>
          val dir = new org.apache.hadoop.fs.Path(
            s"$tablePath/$day/__v=$ver")
          f.listStatus(dir)
            .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith("."))
            .sortBy(_.getPath.getName)
            .foreach { s =>
              val e = fl.addObject()
              e.put("path", s.getPath.toString)
              e.put("bytes", s.getLen)
            }
        }
      }
    }
    val dest = new org.apache.hadoop.fs.Path(outPath)
    val tmp = new org.apache.hadoop.fs.Path(outPath + ".tmp")
    val out = f.create(tmp, true)
    try out.write(m.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    finally out.close()
    // overwrite-capable atomic replace: a delete-then-rename pair would
    // open a window where a crash (or a concurrent reader) observes NO
    // manifest at dest — [[TsStore.atomicReplace]] swaps in one op
    TsStore.atomicReplace(f, tmp, dest)
    outPath
  }

  /** Drop a cut record: its generations fall back to the ordinary
    * keepHistory retention at each table's next vacuum. */
  def dropSnapshotCut(cut: Long): Unit = {
    hadoopFs.delete(new org.apache.hadoop.fs.Path(cutsDir, s"cut=$cut.json"),
      false)
    cutRecordCache.synchronized { cutRecordCache.remove(cut) }
  }

  /** Generations of `table` pinned by retained cut records — the
    * [[TsStore!.historyPins]] feed. One dir listing per call; record
    * reads only for cuts the cache has never seen (records are
    * immutable). Cache entries for dropped cuts are pruned against
    * the live listing here. */
  private def cutPinsFor(table: String): Set[Long] = {
    val ids = snapshotCuts
    cutRecordCache.synchronized {
      (cutRecordCache.keySet -- ids).toSeq
        .foreach(cutRecordCache.remove)
    }
    // an in-flight (or crashed) saveAll's marker pins each listed
    // table's PRE-commit generation too: openAtomicSnapshot serves AT
    // that generation for as long as the marker exists, and a finalize
    // of table A triggering auto-vacuum must not reclaim the pre
    // history record the still-pending view of table A depends on
    val markerPin = atomicMarker().flatMap(_.get(table)).filter(_ > 0L)
    ids.flatMap(c => cutRecord(c).flatMap(_.get(table)))
      .filter(_ > 0L).toSet ++ markerPin
  }

  /** M9 `update subject.table {search:{...}, val:{...}}`
    * (workers/sisdb/sisdb.h:50-53): rewrite matching rows' fields.
    * `search` is an AND object (`{f: v}`), an OR array of AND objects,
    * or per-field `{min:…, max:…}` ranges; `val` assigns constants to
    * declared fields. Write cost is O(matched rows): matches are
    * re-staged through the solely-upsert path with a fresh ingest
    * sequence — never a store rewrite. Returns rows updated. */
  def update(key: String, paramsJson: String): Long = {
    val (subject, table) = splitKey(key)
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val p = mapper.readTree(SdbSchema.quoteBareWords(paramsJson))
    require(p.isObject && p.has("search") && p.has("val"),
      s"update params must be {search:{...}, val:{...}}, got: $paramsJson")
    val st = storeOf(table)
    if (st.isEmpty) return 0L
    val cond = graft.store.KvStore.matchCond("subject", subject) &&
      Engine.searchCond(p.get("search"))
    import scala.jdk.CollectionConverters._
    val timeField = sdb.mainIndex.map(_.name)
    val assigns = p.get("val").properties().asScala.toSeq.map { e =>
      val f = sdb.fields.find(_.name == e.getKey).getOrElse(
        throw new IllegalArgumentException(
          s"update val names unknown field '${e.getKey}'"))
      // assigning an upsert-key field would re-stage matches under a
      // NEW (subject, solely…, time) slot while the originals stay
      // live — silent duplication, not an update. The reference's
      // update rewrites values; keys are immutable (delete + re-set).
      require(!timeField.contains(f.name) && !f.solely,
        s"update cannot assign key field '${f.name}' " +
          "(main index / solely) — del + set instead")
      f.name -> Engine.jsonLit(e.getValue).cast(f.sparkType)
    }
    val matched = st.read().filter(cond)
    val updated = assigns.foldLeft(matched) { case (d, (n, v)) =>
      d.withColumn(n, v)
    }
    // sever lineage from the store's own files before staging the
    // rewrite back into it — set() persists its batch, but the plan
    // must not lazily re-read files a later save swaps out
    val snap = updated.localCheckpoint(true).drop("__day")
    val n = st.set(snap)
    // publish the same shape set/bset publish: declared fields +
    // subject, no internal columns
    subs.publish(snap, "subject", table)
    n
  }

  /** Factor auto-create (`fset 00001.macd 12.60` — the reference's
    * degenerate `factor {time:T, value:F8}` table auto-created on
    * first write, src/core/disk/readme.md): first write declares the
    * table, every later write is a plain `set`. The JSON form takes
    * `{time: iso, value: v}` rows or arrays of them. */
  def fset(key: String, json: String): Long = {
    val (_, table) = splitKey(key)
    if (catalog.get(table).isEmpty)
      create(s"{$table:{fields:{time:[T,8],value:[F,8]}}}")
    set(key, json)
  }

  /** Scalar `fset key t v` convenience (epoch ms). */
  def fset(key: String, timeMs: Long, value: Double): Long =
    fset(key,
      s"""{"time":"${java.time.Instant.ofEpochMilli(timeMs)}","value":$value}""")

  /** `fget key {range:{start, stop}}` (epoch ms): the factor series. */
  def fget(key: String, startMs: Long, stopMs: Long): DataFrame =
    get(key, s"""{range:{start:$startMs,stop:$stopMs}}""")

  // ── unstructured key styles (SIS_SDB_STYLE_ONE / MUL,
  // src/core/disk/sis_disk.io.h:206-210; the degenerate `string
  // {index, value}` table, disk/readme.md) — engine-addressable over
  // the same TsStore machinery as every schema'd table. Keys are BARE
  // strings (no `.table` suffix, dots allowed); values are strings.
  // These are config-scale side tables: all rows share one day
  // partition by design (the reference's string table is one file).
  // NOTE on pub/sub: SubRegistry patterns split `subjects.tables` on
  // the LAST dot, so to subscribe to a dotted KV key, table-qualify
  // the pattern (`sub("w", Seq("cfg.host.__one"))`) — a bare
  // "cfg.host" would parse as subject "cfg", table "host".
  private val kvSeq = new java.util.concurrent.atomic.AtomicLong(-1L)

  private def kvTable(table: String): TsStore = {
    if (catalog.get(table).isEmpty)
      create(s"{$table:{fields:{t:[T,8],value:[C,256]}}}")
    storeOf(table)
  }

  private def kvJson(tMs: Long, value: String): String = {
    val v = mapper.createObjectNode()
    v.put("t", java.time.Instant.ofEpochMilli(tMs).toString)
    v.put("value", value)
    v.toString
  }

  /** ONE style `set key value`: single value per key, last write wins —
    * every write lands on the same (key, t=0) slot and the store's
    * solely-upsert keeps the latest ingest sequence. */
  def kset(key: String, value: String): Long = {
    kvTable("__one")
    setRow(key, "__one", kvJson(0L, value))
  }

  /** ONE style `get key` → (key, value); the key side takes the full
    * sis_match_key pattern vocabulary (comma lists, prefix `*`). */
  def kget(keyPattern: String): DataFrame = {
    kvTable("__one")
    getOne(keyPattern, "__one", "{}")
      .select(col("subject").as("key"), col("value"))
  }

  /** MUL style: append to the key's ordered list. */
  def kpush(key: String, value: String): Long = {
    val st = kvTable("__mul")
    if (kvSeq.get() < 0L) {
      // resume the list position past anything already stored
      val base =
        if (st.isEmpty) 0L
        else st.read().agg(max(unix_millis(col("t")))).head().getLong(0)
      kvSeq.compareAndSet(-1L, base)
    }
    setRow(key, "__mul", kvJson(kvSeq.incrementAndGet(), value))
  }

  /** MUL style `get key`: the ordered list → (key, seq, value). */
  def krange(keyPattern: String): DataFrame = {
    kvTable("__mul")
    getOne(keyPattern, "__mul", "{}")
      .select(col("subject").as("key"), unix_millis(col("t")).as("seq"),
        col("value"))
      .orderBy("key", "seq")
  }

  /** T3 stream ingest through the COMMAND surface (workers/snodb/
    * snodb.h:90-188: a live feed lands in the store while subscribers
    * get the same rows): a Structured Streaming file source feeds the
    * table's OWN TsStore via foreachBatch — each micro-batch is staged
    * (`set`) then flushed (`save`), so a restart replays the batch into
    * the same (subject, solely…, time) slots and the upsert makes
    * redelivery idempotent (stream.Ingest's WAL guarantee, but landing
    * in the get/del/drop/SQL-addressable store). Each batch publishes
    * tagged with this table, so table-qualified sub patterns match.
    * The source must carry the table's declared fields + `subject`. */
  def startIngest(table: String, srcDir: String, checkpointDir: String,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startIngestWith(table, srcDir, checkpointDir, availableNow,
      postCommit = (_, _) => (), maxFilesPerTrigger = maxFilesPerTrigger)

  /** The shared ingest-stream body: land each micro-batch in the
    * table's store (set+save = one committed generation), publish it,
    * then run the caller's post-commit hook with (batch, batchId) —
    * [[startIngest]] passes a no-op, [[startIngestMaintained]] the
    * rollup round. One implementation so the schema assembly, sink
    * semantics, and trigger wiring cannot silently diverge. */
  private def startIngestWith(table: String, srcDir: String,
      checkpointDir: String, availableNow: Boolean,
      postCommit: (DataFrame, Long) => Unit,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val st = storeOf(table)
    val schema = org.apache.spark.sql.types.StructType(
      sdb.structType.fields :+ org.apache.spark.sql.types.StructField(
        "subject", org.apache.spark.sql.types.StringType))
    val reader = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
    val sink: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => {
        val b = batch.toDF()
        st.set(b)
        st.save()
        subs.publish(b, "subject", table)
        postCommit(b, id)
      }
    val writer = src.writeStream
      .foreachBatch(sink)
      .option("checkpointLocation", checkpointDir)
    (if (availableNow)
      writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else writer).start()
  }

  // ── stream-wired rollup maintenance (the reference's headline
  // behavior: a tick write propagates AUTOMATICALLY to the day bar,
  // workers/sisdb/sisdb.h:36-42; README1.MD "自动完成…数据聚合").
  // a11 proved the batch-invoked round (change feed → partial slots +
  // dirty-day rebuilds); these surfaces wire it to the engine's
  // commit stream with a durable CURSOR (Rollup.readBarCursor) so a
  // crash ANYWHERE between "batch committed to the store" and "bars
  // maintained" replays convergently: the cursor names the last
  // generation APPLIED, every round diffs cursor→current. Slots are
  // DERIVED, never caller-supplied: each round places its inserts
  // under batch=<target generation gN>, which is unique by
  // construction (the cursor advances to gN inside the round, so the
  // next round's gN is strictly larger) — stream rounds, command-side
  // rounds (e.g. propagating a `del`), and recovery rounds can never
  // collide on a slot, where a caller-chosen slot could silently
  // overwrite a different logical round's partials. The deployment's
  // vacuum keepHistory must cover the maintenance lag (the cursor
  // generation stays diffable — one batch by construction under a
  // checkpointed stream; rounds no longer hold the store monitor, so
  // it must also cover writes landing while a round is in flight).

  /** One-time bar-store bootstrap: flush `table`, roll its whole
    * pinned state into `barRoot` as slot 0, set the cursor. Refuses
    * an already-bootstrapped root: re-seeding slot 0 while later
    * maintenance slots hold the same rows would double-count every
    * bar silently. */
  def bootstrapRollup(table: String, barRoot: String,
      groupCols: Seq[org.apache.spark.sql.Column],
      orderKey: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      volume: org.apache.spark.sql.Column): Long = {
    require(graft.ops.Rollup.readBarCursor(spark, barRoot).isEmpty,
      s"$barRoot is already a maintained bar store (it has a cursor) " +
        "— re-seeding slot 0 would double-count rows already in later " +
        "slots; start a fresh root to re-bootstrap")
    val st = storeOf(table)
    st.save()
    val g = st.snapshotVersions.lastOption.getOrElse(
      throw new IllegalStateException(
        s"bootstrapRollup: '$table' has no committed generation"))
    val s0 = openSnapshotAt(table, g).getOrElse(
      throw new IllegalStateException(
        s"bootstrapRollup: generation $g of '$table' unreadable"))
    maintLock(barRoot).synchronized {
      ensureMaintLease(barRoot, "bootstrap")
      // the bootstrap round's cursor lands AFTER maintainDayPartials
      // returns, outside the marker lifetime — so its marker is
      // non-advancing: "cursor reached slot 0" must never release a
      // crashed bootstrap's marker (re-bootstrap re-runs it whole)
      graft.ops.Rollup.maintainDayPartials(s0, Seq.empty, s0, barRoot,
        col("__day"), groupCols, orderKey, value, volume, slot = 0L,
        advancesCursor = false)
      graft.ops.Rollup.writeBarCursor(spark, barRoot, g)
    }
    g
  }

  /** Per-barRoot round serialization (see [[maintainRollup]]): rounds
    * for one bar store must not interleave, but they must NOT hold
    * the table's store monitor across whole Spark jobs either — that
    * would stall every concurrent set()/save() for the full round,
    * making the write→bar cascade block the very write path it
    * cascades from. The store monitor is taken only long enough to
    * read the committed generation. */
  private val maintLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def maintLock(barRoot: String): Object =
    // normalized key: two spellings of one root ("/x/bars" vs
    // "/x/bars/") must serialize on the SAME monitor or concurrent
    // rounds would interleave against one physical directory
    maintLocks.computeIfAbsent(
      new org.apache.hadoop.fs.Path(barRoot).toString, _ => new Object)

  // ── the CROSS-engine half of round serialization: maintLock only
  // serializes rounds within this Engine instance; the bar-root
  // maintenance LEASE ([[graft.ops.Rollup.claimMaintLease]]) fences
  // a second engine (same JVM or another process) the way TsStore's
  // writer lease fences store commits — this engine's first round on
  // a root takes the lease over, every later round re-verifies it at
  // round start and again before the cursor advance, and a
  // superseded maintainer fails loudly instead of interleaving
  // placements with the winner's.
  private val maintToken = java.util.UUID.randomUUID().toString
  private val maintLeasedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def ensureMaintLease(barRoot: String, when: String): Unit = {
    val key = new org.apache.hadoop.fs.Path(barRoot).toString
    if (maintLeasedRoots.contains(key))
      graft.ops.Rollup.requireMaintLease(spark, barRoot, maintToken, when)
    else {
      graft.ops.Rollup.claimMaintLease(spark, barRoot, maintToken)
      maintLeasedRoots.add(key)
    }
  }

  /** One cursor-protocol maintenance round: diff the cursor against
    * `table`'s current committed generation `gN`, merge feed inserts
    * as slot `gN` (DERIVED — unique by construction, since the cursor
    * advances to `gN` inside the round and the next round diffs from
    * there; no caller-chosen slot can collide with a different
    * logical round's placements), rebuild update/delete days from the
    * new pinned state, advance the cursor. No-op (returns empty) when
    * the store has not moved. The building block
    * [[startIngestMaintained]] drives per micro-batch; call it
    * directly to propagate command-side writes (update/del/drop) on
    * demand.
    *
    * Rounds for one `barRoot` SERIALIZE on a dedicated maintenance
    * lock: a command-side round racing a live maintained stream's
    * round would otherwise both read the same cursor, derive
    * overlapping feeds, and place the same inserts twice. Serialized,
    * the second round sees the advanced cursor and diffs empty.
    * Writers are NOT blocked meanwhile — the round reads committed
    * snapshots, so a set()/save() landing mid-round simply becomes
    * the next round's feed. ACROSS engines (another instance or
    * another process) the same exclusion is enforced by the bar
    * root's maintenance LEASE: this engine's first round takes it
    * over, every round re-verifies it at start and again before the
    * cursor advance, and a superseded maintainer fails loudly — see
    * [[graft.ops.Rollup.claimMaintLease]] for the protocol and its
    * documented instants-between residual (benign by construction:
    * racing rounds derive content-identical placements from the same
    * cursor).
    *
    * A CRASHED round (pending marker at `barRoot`, its slot = that
    * round's recorded target generation) is recovered here before
    * anything else: if the cursor already reached the marker's
    * generation, the round provably completed (the cursor writes
    * after every placement) and the marker is released; otherwise
    * every day the crashed round recorded (dirty AND insert) joins
    * this round's dirty set, so its partial placements — including
    * ones a netted-out feed would never re-derive, e.g. an insert a
    * later generation deleted again — are rebuilt wholesale from the
    * new pin instead of surviving as orphans under the dead slot. */
  def maintainRollup(table: String, barRoot: String,
      groupCols: Seq[org.apache.spark.sql.Column],
      orderKey: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      volume: org.apache.spark.sql.Column): (Seq[String], Seq[String]) = {
    val st = storeOf(table)
    maintLock(barRoot).synchronized {
      ensureMaintLease(barRoot, "round start")
      val gN = st.synchronized {
        st.snapshotVersions.lastOption.getOrElse(0L) }
      val cur = graft.ops.Rollup.readBarCursor(spark, barRoot).getOrElse(
        throw new IllegalStateException(
          s"no maintenance cursor at $barRoot — bootstrapRollup first"))
      val pending = graft.ops.Rollup.pendingMaintenance(spark, barRoot)
      // a pending marker whose recorded generation the cursor already
      // reached is a round that died between its cursor advance and
      // the marker clear — placements provably complete: release it.
      // (Re-running under its slot instead would be CORRUPTION when
      // new data landed in between: the re-derived feed — only the
      // NEW changes, the completed round's are behind the advanced
      // cursor — would overwrite the completed placements wholesale.)
      // The release comparison is only meaningful for a marker whose
      // slot IS a generation (scheme tag) AND whose round's commit
      // step advances the cursor to that slot (advances tag): a
      // marker written under the old caller-chosen-slot scheme, or by
      // a rebuild-only recovery round (which runs UNDER the cursor by
      // design, so "cursor reached its slot" proves nothing), must
      // instead take the rebuild path below — the safe direction for
      // a round the proof does not cover.
      val genScheme =
        graft.ops.Rollup.pendingMarkerIsGenScheme(spark, barRoot)
      val advancing =
        graft.ops.Rollup.pendingMarkerAdvancesCursor(spark, barRoot)
      pending.filter(p => genScheme && advancing && p._1 <= cur)
        .foreach { case (pSlot, _, _) =>
          graft.ops.Rollup.releaseMaintMarker(spark, barRoot, pSlot) }
      if (gN <= cur) {
        // the store has not moved — but a pending marker that is
        // UNSCHEMED (pre-gen-scheme crash) or NON-ADVANCING (a
        // crashed rebuild-only recovery round) is not releasable by
        // the cursor comparison above, and with no new generation the
        // full round below never runs: left alone it would pend
        // FOREVER on an idle store, failing pendingMaintenance probes
        // and every compaction until a new write happens to land. Run
        // a rebuild-only round over its recorded days from the
        // current pin instead: dirtyDays subsume the marker's days,
        // so maintainDayPartials accepts and CLEARS it, and a
        // wholesale rebuild converges regardless of what the dead
        // round had partially placed. (A gen-scheme ADVANCING marker
        // can't reach here: its recorded generation is committed,
        // hence <= gN <= cur, hence released above.) The recovery
        // round's own marker is tagged non-advancing — if IT crashes,
        // the next round re-enters this branch instead of wrongly
        // releasing it — and the marker clear re-verifies the
        // maintenance lease: a takeover mid-recovery must not have
        // its in-flight marker cleared out from under it.
        pending.filter(_ => !genScheme || !advancing) match {
          case None => (Seq.empty, Seq.empty)
          case Some((_, pDays, pIns)) =>
            val days = (pDays ++ pIns).distinct
            val sCur = openSnapshotAt(table, gN).getOrElse(
              throw new IllegalStateException(
                s"maintainRollup: generation $gN of '$table' unreadable " +
                  "— cannot rebuild the crashed round's days"))
            // slot is irrelevant (zero inserts stage nothing); the
            // cursor needs no advance — the marker clear is the point
            graft.ops.Rollup.maintainDayPartials(sCur.limit(0), days,
              sCur, barRoot, col("__day"), groupCols, orderKey, value,
              volume, slot = gN,
              onPlaced = () => graft.ops.Rollup.requireMaintLease(
                spark, barRoot, maintToken, "recovery marker clear"),
              advancesCursor = false)
        }
      } else {
      // a still-incomplete crashed round (cursor below its recorded
      // generation, any old-scheme marker, or a crashed non-advancing
      // recovery round): this round subsumes it — the feed from the
      // unchanged cursor covers its changes, and its recorded days
      // rebuild from the pin (see the crash-recovery contract above)
      val crashedDays = pending
        .filter(p => !genScheme || !advancing || p._1 > cur)
        .map { case (_, d, i) => (d ++ i).distinct }
        .getOrElse(Seq.empty)
      val sdb = catalog.get(table).get
      val timeField = sdb.mainIndex.map(_.name).get
      val keys = Seq("subject") ++ sdb.solelyFields.map(_.name) :+ timeField
      val dayExpr = Engine.dayOf(sdb, timeField)
      val feed = changesBetween(table, cur, gN).localCheckpoint()
      val dirtyDays = (feed.filter(col("op").isin("update", "delete"))
        .select(dayExpr.as("__d")).distinct()
        .collect().map(_.getString(0)).toSeq ++ crashedDays).distinct
      // keys (incl. any solely fields) ride the feed top-level; the
      // payload struct carries the rest — reassemble the raw row shape
      val inserts = feed.filter(col("op") === "insert")
        .select(keys.map(col) :+ col("new.*"): _*)
        .withColumn("__day", dayExpr)
      val sN = openSnapshotAt(table, gN).getOrElse(
        throw new IllegalStateException(
          s"maintainRollup: generation $gN of '$table' unreadable"))
      // the cursor advance rides INSIDE the round's marker lifetime
      // (after every placement, before the marker clear): a crash
      // anywhere leaves either an un-advanced cursor (the round
      // re-runs whole, its recorded days rebuilding from the pin) or
      // a pending marker with the cursor advanced (released above) —
      // never a cleared marker with a stale cursor, which a later
      // round would re-derive into a FRESH slot and double-count
      graft.ops.Rollup.maintainDayPartials(inserts, dirtyDays,
        sN, barRoot, col("__day"), groupCols, orderKey, value, volume,
        slot = gN,
        onPlaced = () => {
          // a takeover landing mid-round must not advance the cursor:
          // the winner re-runs the round against the same cursor and
          // converges; a fenced advance could mask its recovery
          graft.ops.Rollup.requireMaintLease(spark, barRoot, maintToken,
            "cursor advance")
          graft.ops.Rollup.writeBarCursor(spark, barRoot, gN)
        })
      }
    }
  }

  /** [[startIngest]] with automatic cross-scale propagation: each
    * micro-batch lands in the table's store (set+save, publish) and
    * then runs ONE [[maintainRollup]] round — the write→bar cascade
    * of the reference, stream-wired with exactly-once bars under
    * crash/replay (the cursor protocol above: the round's slot is the
    * batch's committed generation, stable under redelivery because a
    * re-landed batch re-derives the same feed against its re-landed
    * generation; st11 drills redelivery, a died-mid-maintenance
    * batch, and a command-side delete propagated through the same
    * cursor).
    *
    * `housekeepEveryBatches > 0` adds the wall-clock housekeeping a
    * deployment that never goes down needs (the reference packs from
    * its own working thread on a schedule, sisdb.c:66-67,137-169):
    * after every Nth batch's round, the bar store's multi-slot days
    * fold into one slot ([[graft.ops.Rollup.compactMaintainedBars]] —
    * exactly-equal merge, crash-rolls-forward), so slot count stays
    * bounded by the cadence instead of growing one per round forever;
    * `housekeepGroupCols` must name the stored partials' group
    * columns. Version-dir growth on the TABLE side is the commit
    * path's existing [[autoVacuum]] dial — the stream's set+save IS a
    * commit, so a dialed engine vacuums as batches land. */
  def startIngestMaintained(table: String, srcDir: String,
      checkpointDir: String, barRoot: String,
      groupCols: Seq[org.apache.spark.sql.Column],
      orderKey: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      volume: org.apache.spark.sql.Column,
      availableNow: Boolean = true,
      housekeepEveryBatches: Int = 0,
      housekeepGroupCols: Seq[String] = Seq.empty,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(housekeepEveryBatches <= 0 || housekeepGroupCols.nonEmpty,
      "housekeeping needs the stored partials' group column names " +
        "(housekeepGroupCols) — they cannot be inferred safely")
    startIngestWith(table, srcDir, checkpointDir, availableNow,
      maxFilesPerTrigger = maxFilesPerTrigger,
      postCommit = (_, id) => {
        maintainRollup(table, barRoot, groupCols, orderKey, value,
          volume)
        if (housekeepEveryBatches > 0 &&
            (id + 1) % housekeepEveryBatches == 0)
          maintLock(barRoot).synchronized {
            ensureMaintLease(barRoot, "housekeeping compaction")
            graft.ops.Rollup.compactMaintainedBars(spark, barRoot,
              housekeepGroupCols)
          }
      })
  }

  /** T2 `psub` replay through the command surface (workers/sisdb/
    * sisdb.c:491-546): flush the table, then pump one stored day
    * through the live SubRegistry in time order. Per-subscriber
    * filtering stays a distributed Spark filter (Replay.replayFrameTo);
    * published frames carry this table's name, so table-qualified sub
    * patterns match exactly as they do for live `set`s. Returns rows
    * replayed. */
  def replay(table: String, day: String, slices: Int = 24): Long = {
    val st = storeOf(table)
    st.save()
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val timeField = sdb.mainIndex.map(_.name).get
    graft.stream.Replay.replayFrameTo(
      st.read(Some(day), Some(day)), timeField, "subject", subs, slices,
      table = table,
      sliceExpr = Some(Engine.indexAsLong(sdb, timeField, col(timeField))))
  }

  /** U1 SQL front door: flush a table's hot tail and register its
    * partitioned store in the session catalog as external parquet
    * `<db>.<table>`, so plain `spark.sql` clients query the engine
    * without the Scala API — Spark's catalog is the analogue of the
    * reference's command front door (workers/sisdb/sisdb.c:14-42).
    * `__day` stays a partition column, so SQL day predicates prune
    * exactly like the Scala read path. Returns the qualified name.
    *
    * The registration is kept LIVE, not a one-shot snapshot: every
    * later cold rewrite (`save`, `del`/`drop`, `pack` — including the
    * hot tail's auto-flush) re-syncs the catalog partitions and drops
    * Spark's cached file index, so SQL clients see exactly what the
    * Scala read path sees. (Hot rows staged since the last save are
    * visible only to the Scala path by design — `save` is the
    * publish point, like the reference's disk flush.)
    *
    * The sync cost is proportional to the CHANGE, preserving `save`'s
    * O(dirty days) property: a save or `del` re-pins exactly the days
    * it touched, and only a wholesale rewrite (`pack`, restore) pays a
    * full partition re-sync. Calling exposeSql again (same or another
    * db) keeps every earlier registration live.
    *
    * The backing table skips filesystem discovery entirely: each day
    * partition's LOCATION is pinned to the manifest-committed `__v=N`
    * dir and every cold rewrite re-pins
    * exactly the affected days — SQL clients read the committed
    * snapshot (never a superseded or half-committed version), and a
    * scan already running when a commit lands keeps its pinned file
    * list for as long as the vacuum grace holds those files. */
  def exposeSql(table: String, db: String = "graft"): String = {
    // fence check FIRST (see unexposeSql): refusing after the save
    // and the view registrations would leave this session's SQL
    // catalog inconsistent with the sidecar it then never writes
    requireCatalogUnfenced()
    val st = storeOf(table)
    st.save()
    // a parquet backing table reads day dirs raw — it cannot align
    // schema eras the way the store's own reads do, so every pinned
    // dir must be from the live era (pack rewrites older-era days)
    require(!st.hasEras ||
      st.snapshotDays.forall { case (_, v) =>
        st.eraOfVersion(v) == st.currentEra },
      s"exposeSql: '$table' still holds day dirs written under an " +
        "older schema era — run pack first (it rewrites every day " +
        "into the live era), then expose")
    val qn = s"$db.$table"
    val backing = s"$db.${table}__files"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    dropRegistration(qn)
    dropRegistration(backing)
    // filesystem partition discovery over the versioned layout would
    // union EVERY `__v=N` dir — duplicate rows, and deletes resurrected
    // from superseded versions a vacuum has not reclaimed yet. Register
    // the backing table with an EXPLICIT schema and no discovery, then
    // pin each day partition's LOCATION to the manifest-committed
    // version dir: SQL clients read exactly the committed snapshot, day
    // predicates still prune through the catalog partitions, and
    // in-flight scans of a superseded version survive a concurrent
    // commit for as long as the vacuum grace keeps its files (the same
    // reader contract openSnapshot pins).
    createPinnedBacking(st, table, backing)
    pinSnapshotPartitions(st, backing, st.snapshotDays)
    createSqlView(st, table, qn, backing)
    sqlNames.updateWith(table)(prev =>
      Some(prev.getOrElse(Vector.empty).filterNot(_._1 == qn) :+ (qn, backing)))
    // record the exposure so a restarted Engine re-registers the view
    val already = exposedDbs.getOrElse(table, Vector.empty)
    if (!already.contains(db)) {
      requireCatalogUnfenced()
      exposedDbs.put(table, already :+ db)
      persistEngineCatalog()
    }
    st.onColdChange = change => sqlNames.getOrElse(table, Vector.empty)
      .foreach { case (view, back) =>
        change match {
          // every rewrite moves the affected days to a NEW version
          // dir, so the sync is a location re-pin (still proportional
          // to the CHANGE — the manifest lookup is one sidecar read,
          // the ALTERs touch only affected days)
          case TsStore.DaysUpserted(days) =>
            pinSnapshotDays(st, back, days)
          case TsStore.DaysReplaced(replaced, removed) =>
            pinSnapshotDays(st, back, replaced)
            removed.foreach(d => spark.sql(
              s"ALTER TABLE $back DROP IF EXISTS PARTITION " +
                s"(__day='${sqlStr(d)}')"))
            if (removed.nonEmpty)
              pinnedDays.updateWith(back)(_.map(_ -- removed))
          case TsStore.Tombstoned =>
            createSqlView(st, table, view, back)
          case TsStore.Rewritten =>
            // pack/restore: the manifest is a new day set — full
            // partition re-sync (drop gone days, re-pin the rest) and
            // re-view (tombstones moved)
            resyncSnapshotPartitions(st, back)
            createSqlView(st, table, view, back)
        }
        // drop the cached file index in every case — re-pinned
        // locations would otherwise serve stale listings
        spark.catalog.refreshTable(back)
      }
    qn
  }

  /** SQL single-quote escaping for literals built into DDL/partition
    * statements. */
  private def sqlStr(s: String): String = s.replace("'", "''")

  /** The manifest's escaped day dir name → catalog partition value. */
  private def snapshotDayVal(dayDir: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(dayDir.stripPrefix("__day="))

  /** Catalog partition values currently registered on `backing`. */
  private def registeredDays(backing: String): Set[String] =
    spark.sql(s"SHOW PARTITIONS $backing").collect()
      .map(r => snapshotDayVal(r.getString(0))).toSet

  /** BULK-pin day partitions of a backing table to
    * their manifest-committed version dirs — `pins` are (escaped day
    * dir name, version) pairs as [[TsStore.snapshotDays]] returns
    * them. For the bulk paths only (initial exposure, pack resync),
    * where one partition listing amortizes over the whole manifest:
    * unregistered days land in ONE batched `ADD … PARTITION …
    * LOCATION` statement, registered days get a `SET LOCATION` each.
    * Incremental per-commit syncs go through [[pinSnapshotDays]],
    * which never lists. */
  private def pinSnapshotPartitions(st: TsStore, backing: String,
      pins: Seq[(String, Long)]): Unit = {
    // the registered-day cache is (re)seeded even when there is
    // nothing to pin: a pack that emptied the manifest just DROPPED
    // every partition, and leaving the old set cached would route the
    // next save of a "known" day to SET LOCATION on an unregistered
    // partition
    val existing = registeredDays(backing)
    val specs = pins.map { case (dayDir, v) =>
      (snapshotDayVal(dayDir),
        s"${st.path.stripSuffix("/")}/$dayDir/__v=$v")
    }
    pinDaySpecs(backing, specs, existing)
    pinnedDays.put(backing, existing ++ specs.map(_._1))
  }

  /** Pin (day value, location) specs on `backing` given the set of
    * days already registered: fresh days share ONE batched
    * `ADD IF NOT EXISTS … LOCATION` (the ADD carries the location, no
    * follow-up SET); already-registered days each get a targeted
    * `SET LOCATION`. The single DDL-building site behind both the
    * bulk ([[pinSnapshotPartitions]]) and incremental
    * ([[pinSnapshotDays]]) pins. */
  private def pinDaySpecs(backing: String, specs: Seq[(String, String)],
      known: Set[String]): Unit = {
    val (have, fresh) = specs.partition(p => known.contains(p._1))
    have.foreach { case (d, loc) =>
      spark.sql(s"ALTER TABLE $backing PARTITION " +
        s"(__day='${sqlStr(d)}') SET LOCATION '${sqlStr(loc)}'")
    }
    if (fresh.nonEmpty)
      spark.sql(s"ALTER TABLE $backing ADD IF NOT EXISTS " +
        fresh.map { case (d, loc) =>
          s"PARTITION (__day='${sqlStr(d)}') LOCATION '${sqlStr(loc)}'"
        }.mkString(" "))
  }

  /** Re-pin the given RAW day values (as ColdChange events carry them)
    * to their current manifest versions. Days absent from the manifest
    * are skipped — a concurrent removal wins and its own event drops
    * the partition. The incremental path deliberately does NOT list
    * the catalog partitions (that would re-price every hot-tail
    * auto-flush at O(all days) — the exact anti-pattern the
    * onColdChange contract forbids): against the in-memory registered
    * set ([[pinnedDays]], seeded by the exposure's one bulk listing),
    * each already-registered day pays a single `SET LOCATION` and the
    * fresh days share one batched `ADD … LOCATION` — one statement
    * per changed day, O(changed days) regardless of table age. */
  private def pinSnapshotDays(st: TsStore, backing: String,
      days: Seq[String]): Unit = {
    val manifest = st.snapshotDays.toMap
    // distinguish "cache missing" from "empty set": every exposure
    // bulk-seeds the cache before this callback can exist, but that
    // invariant is convention — if the entry is ever absent, seed it
    // from the catalog once rather than routing already-registered
    // days through ADD IF NOT EXISTS (which silently no-ops over a
    // stale partition location)
    val known = pinnedDays.get(backing) match {
      case Some(s) => s
      case None =>
        val seeded = registeredDays(backing)
        pinnedDays.put(backing, seeded)
        seeded
    }
    val specs = days.flatMap { d =>
      val dayDir = "__day=" + org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(d)
      manifest.get(dayDir).map(v =>
        (d, s"${st.path.stripSuffix("/")}/$dayDir/__v=$v"))
    }
    // the registered set is session-authoritative (every ADD/DROP and
    // bulk-pin site maintains it), so the fresh ADDs' IF NOT EXISTS
    // never silently no-ops over a stale location here
    pinDaySpecs(backing, specs, known)
    if (specs.exists(p => !known.contains(p._1)))
      pinnedDays.put(backing, known ++ specs.map(_._1))
  }

  /** Full catalog↔manifest partition re-sync for a backing table
    * (pack may both move and remove days): drop catalog partitions the
    * manifest no longer lists, re-pin every listed one. */
  private def resyncSnapshotPartitions(st: TsStore, backing: String): Unit = {
    val manifest = st.snapshotDays
    val live = manifest.map(p => snapshotDayVal(p._1)).toSet
    registeredDays(backing).filterNot(live)
      .foreach(d => spark.sql(s"ALTER TABLE $backing DROP IF EXISTS " +
        s"PARTITION (__day='${sqlStr(d)}')"))
    pinSnapshotPartitions(st, backing, manifest)
  }

  /** Register `backing` as an explicit-schema, no-discovery
    * partitioned parquet table over `st`'s root: filesystem partition
    * discovery over the versioned layout would union every `__v=N` dir
    * (duplicate rows, resurrected deletes), so each day partition's
    * LOCATION is pinned to one committed version dir by the caller. */
  private def createPinnedBacking(st: TsStore, table: String,
      backing: String): Unit = {
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val dataSchema = org.apache.spark.sql.types.StructType(
      sdb.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, f.sparkType)) ++
        Seq(org.apache.spark.sql.types.StructField("subject",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("__seq",
            org.apache.spark.sql.types.LongType)))
    spark.sql(s"CREATE TABLE $backing (${dataSchema.toDDL}, " +
      s"`__day` STRING) USING parquet PARTITIONED BY (`__day`) " +
      s"LOCATION '${sqlStr(st.path)}'")
  }

  /** SQL TIME TRAVEL: register a read-only view over generation `v`
    * of `table`, pinned to that generation's day→version map AND its
    * as-of-commit tombstones (both from the store's `__snaphist`
    * record — the same artifact [[openSnapshotAt]] reads). Unlike
    * [[exposeSql]] the registration is deliberately FROZEN: later
    * saves/deletes/packs never re-pin it — SQL clients keep reading
    * exactly what generation `v` committed (training-run
    * reproducibility for SQL consumers), for as long as
    * `vacuum(keepHistory = …)` retains the generation. Day-predicate
    * pruning works through the pinned catalog partitions exactly as
    * on the live exposure (e13 REQUIREs it in-plan). Session-scoped
    * by design — not recorded in the engine catalog sidecar; the
    * durable artifact is the generation record, from which a restart
    * re-derives the registration on demand. Registered as
    * `<db>.<table>__v<v>` so live and time-travel views of one table
    * coexist in one database. */
  def exposeSqlAt(table: String, v: Long, db: String = "graft"): String = {
    val st = storeOf(table)
    val (days, tombs) = st.historyRecord(v).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no retained generation $v (retained: " +
          s"${st.snapshotVersions.mkString(", ")})"))
    // the frozen backing table reads the pinned dirs raw — refuse a
    // generation whose dirs span eras or predate the catalog schema
    // (time travel across an evolve boundary is openSnapshotAt's
    // aligned read, not a raw SQL pin)
    require(!st.hasEras ||
      days.forall { case (_, dv) =>
        st.eraOfVersion(dv) == st.currentEra },
      s"exposeSqlAt: generation $v of '$table' holds day dirs written " +
        "under an older schema era — a raw SQL pin cannot align eras; " +
        "use openSnapshotAt for cross-era time travel")
    val qn = s"$db.${table}__v$v"
    val backing = s"$db.${table}__v${v}__files"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    dropRegistration(qn)
    dropRegistration(backing)
    createPinnedBacking(st, table, backing)
    pinSnapshotPartitions(st, backing, days.toSeq.sortBy(_._1))
    createSqlViewWith(table, qn, backing, tombs.toSeq.sortBy(_._1))
    qn
  }

  /** Drop a prior registration under `name`, whichever kind it was —
    * `DROP TABLE` on a view (and vice versa) throws. */
  /** Drop every SQL registration of `table` (views + backing tables
    * in every database it was exposed to) and forget the persisted
    * exposure — the inverse of [[exposeSql]], and the prerequisite
    * [[evolve]] names for an exposed table (a parquet backing table
    * cannot span schema eras; re-expose after evolving to get a
    * backing DDL with the new columns). Frozen `exposeSqlAt` views
    * are unaffected — they pin a specific generation by design. */
  def unexposeSql(table: String): Unit = synchronized {
    // fence check FIRST: refusing after the view drops would leave
    // this session's SQL catalog, exposedDbs and the sidecar mutually
    // inconsistent (views gone, exposure still recorded)
    if (exposedDbs.contains(table)) requireCatalogUnfenced()
    sqlNames.remove(table).getOrElse(Vector.empty)
      .foreach { case (view, backing) =>
        dropRegistration(view)
        dropRegistration(backing)
      }
    stores.get(table).foreach(_.onColdChange = _ => ())
    if (exposedDbs.contains(table)) {
      exposedDbs.remove(table)
      persistEngineCatalog()
    }
  }

  private def dropRegistration(name: String): Unit = {
    pinnedDays.remove(name)
    if (spark.catalog.tableExists(name)) {
      if (spark.catalog.getTable(name).tableType == "VIEW")
        spark.sql(s"DROP VIEW $name")
      else spark.sql(s"DROP TABLE $name")
    }
  }

  /** The queryable name is a VIEW over the raw file-backed table: the
    * projection hides the internal `__seq` column and the WHERE carries
    * the store's live tombstones, so SQL clients never see dropped
    * subjects (`drop` is an O(1) metadata write — the files still hold
    * the rows until `pack`). Day predicates still reach the scan
    * through the view — u1 `require`s PartitionFilters in its own
    * executed plan. */
  private def createSqlView(st: TsStore, table: String, viewQn: String,
      backing: String): Unit =
    createSqlViewWith(table, viewQn, backing, st.tombstoneList)

  /** [[createSqlView]] with an explicit tombstone set — the live
    * exposure passes the store's current tombstones, the time-travel
    * exposure the generation record's as-of-commit ones. */
  private def createSqlViewWith(table: String, viewQn: String,
      backing: String, tombstones: Seq[(String, Long)]): Unit = {
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val cols = (sdb.fields.map(_.name) :+ "subject" :+ "__day")
      .map(n => s"`$n`").mkString(", ")
    val where = tombstones match {
      case Seq() => ""
      case ts => " WHERE " + ts.map { case (s, g) =>
        s"NOT (subject = '${s.replace("'", "''")}' AND __seq <= ${g}L)"
      }.mkString(" AND ")
    }
    spark.sql(
      s"CREATE OR REPLACE VIEW $viewQn AS SELECT $cols FROM $backing$where")
  }

  /** `sub pattern` (T1): live fan-out of future `set`s. */
  def sub(id: String, patterns: Seq[String])(cb: DataFrame => Unit): Unit =
    subs.subscribe(id, patterns)(cb)
  def unsub(id: String): Unit = subs.unsubscribe(id)

  /** `pub key {json}` (workers/memdb/memdb.h:43-44): publish an
    * arbitrary message to matching subscribers WITHOUT writing it to
    * any store — the transient-notification sibling of `set`. The key
    * is `subject.table` so table-qualified sub patterns match exactly
    * as they do for stored writes; payload rows are typed per the
    * table's declared schema (subscribers see the same shape a `set`
    * publish carries). Returns rows published. */
  def pub(key: String, json: String): Long = {
    val (subject, table) = splitKey(key)
    val sdb = catalog.get(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val node = mapper.readTree(json)
    val rows: Seq[String] =
      if (node.isArray) (0 until node.size()).map(i => node.get(i).toString)
      else Seq(node.toString)
    import spark.implicits._
    val raw = rows.toDF("__json")
    val typed =
      (if (node.isArray && node.size() > 0 && node.get(0).isArray)
        Sources.fromArrayRows(raw, "__json", sdb)
      else Sources.fromJsonRows(raw, "__json", sdb))
        .drop("__json")
        .withColumn("subject", lit(subject))
    subs.publish(typed, "subject", table)
    rows.size.toLong
  }

  // LAST constructor statements (the whole class body above is
  // initialized by now): roll a crashed saveAll forward, then a
  // crashed restore, before any command can observe either
  // half-finished middle (a restore targets cut-pinned generations,
  // which a commit roll-forward never touches — the order is safe).
  recoverAtomicCommit()
  recoverRestore()
}

object Engine {
  /** Day partition derivation per the schema's main-index style: date
    * int and year stay as-is (the reference stores day-scale series
    * per year, finer series per day, workers/sisdb/sisdb.h:36-42). */
  private[api] def dayOf(sdb: SdbSchema.Sdb, timeField: String) = {
    val f = sdb.fields.find(_.name == timeField).get
    f.style match {
      case 'D' => col(timeField).cast("string")
      case 'T' | 'S' | 'W' => date_format(col(timeField), "yyyy-MM-dd")
      case _ => col(timeField).cast("string")
    }
  }

  /** [[dayOf]] for one main-index VALUE as range params give it
    * (yyyymmdd for D, epoch ms for T/S/W, days in `zone` — the session
    * time zone `date_format` uses), for styles whose day strings sort
    * like their index. None — no day bound — for every other style and
    * for values outside years 1-9999, where `yyyy-MM-dd` stops sorting
    * like the index. */
  private[api] def dayOfIndex(sdb: SdbSchema.Sdb, timeField: String,
      v: Long, zone: java.time.ZoneId): Option[String] = {
    def ymd(y: Long, m: Long, d: Long) =
      if (y >= 1 && y <= 9999) Some(f"$y%04d-$m%02d-$d%02d") else None
    sdb.fields.find(_.name == timeField).get.style match {
      case 'D' => ymd(v / 10000, v / 100 % 100, v % 100)
      case 'T' | 'S' | 'W' =>
        val d = java.time.Instant.ofEpochMilli(v).atZone(zone).toLocalDate
        ymd(d.getYear, d.getMonthValue, d.getDayOfMonth)
      case _ => None
    }
  }

  /** Whether a day-partition VALUE can contain rows whose main index
    * falls in [start, stop] — the pruning predicate `del` hands the
    * store, so only intersecting partitions are rewritten. Date and
    * timestamp styles bound the day by [[dayOfIndex]]; other styles'
    * day IS the index value. An unparseable day value returns true:
    * rewritten-but-unchanged is correct, skipped-but-affected is not. */
  private[api] def dayInRange(sdb: SdbSchema.Sdb, timeField: String,
      start: Long, stop: Long, zone: java.time.ZoneId): String => Boolean =
    sdb.fields.find(_.name == timeField).get.style match {
      case 'D' | 'T' | 'S' | 'W' =>
        val lo = dayOfIndex(sdb, timeField, start, zone)
        val hi = dayOfIndex(sdb, timeField, stop, zone)
        day => !day.matches("\\d{4}-\\d{2}-\\d{2}") ||
          lo.forall(_ <= day) && hi.forall(day <= _)
      case _ => day =>
        (try Some(day.toLong) catch { case _: NumberFormatException => None })
          .forall(d => d >= start && d <= stop)
    }

  /** The reference's update search tree (sisdb.h:50-53): `{f: v, ...}`
    * is an AND of field matches; `[{...}, {...}]` an OR of AND groups;
    * a field value that is itself `{min:…, max:…}` is a range match
    * (either bound optional). */
  private[api] def searchCond(node: JsonNode): org.apache.spark.sql.Column =
    if (node.isArray) {
      require(node.size() > 0, "update search: empty OR list")
      (0 until node.size()).map(i => searchCond(node.get(i))).reduce(_ || _)
    } else {
      require(node.isObject && node.size() > 0,
        s"update search must be a non-empty object or array of them, got: $node")
      import scala.jdk.CollectionConverters._
      node.properties().asScala.map { e =>
        val c = org.apache.spark.sql.functions.col(e.getKey)
        val v = e.getValue
        if (v.isObject) {
          val lo = if (v.has("min")) Some(jsonLit(v.get("min"))) else None
          val hi = if (v.has("max")) Some(jsonLit(v.get("max"))) else None
          require(lo.nonEmpty || hi.nonEmpty,
            s"update search range for '${e.getKey}' needs min and/or max")
          (lo.map(c >= _) ++ hi.map(c <= _)).reduce(_ && _)
        } else c === jsonLit(v)
      }.reduce(_ && _)
    }

  private[api] def jsonLit(v: JsonNode): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    if (v.isIntegralNumber) lit(v.asLong())
    else if (v.isNumber) lit(v.asDouble())
    else if (v.isBoolean) lit(v.asBoolean())
    else lit(v.asText())
  }

  /** The main index compared as a long per its declared style: date
    * ints compare as yyyymmdd, timestamps as epoch ms — matching the
    * reference's numeric range params. */
  private[api] def indexAsLong(sdb: SdbSchema.Sdb, timeField: String,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val f = sdb.fields.find(_.name == timeField).get
    f.style match {
      case 'D' => (year(c) * 10000 + month(c) * 100 + dayofmonth(c)).cast("long")
      case 'T' | 'S' | 'W' => unix_millis(c)
      case _ => c.cast("long")
    }
  }
}
