package graft

import graft.ops.{BandIndex, Dedup}
import graft.store.TsStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-8 scaling harnesses (PLANS.md evidence), CcScale-style:
  *
  *  - [[IncScale]]: the d11 incremental-dedup claim — a fixed incoming
  *    batch checked against a fingerprint index replicated G×. The
  *    index never self-joins and (after the round-8 broadcast hint)
  *    never shuffles: batch cost = one map-side scan of the banded
  *    index + matched buckets, so wall vs index size must grow at scan
  *    slope, not shuffle slope, with candidate counts flat.
  *  - [[DelScale]]: the round-7 scale-killer fix — `deleteWhere` of one
  *    subject-day against a store holding G× more days must be flat
  *    (only the one day partition is rewritten), and `dropSubject`
  *    must be O(1) metadata at every G.
  */
object IncScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val reps = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(1, 5, 10, 20, 50)
    val spark = Harness.session()
    Tables.configure(spark)

    val d0 = Tables(spark, sfDir, "documents").select("doc_id", "text")
    // fixed incoming batch: every 10th doc (d11's split)
    val newSigs = Dedup.minhash(d0.filter(col("doc_id") % 10 === 0),
      "text", shingleK = 3, numHashes = 32).persist()
    val nNew = newSigs.count()
    val off = 100000000L
    reps.foreach { g =>
      // replica 0 is the verbatim corpus (holds the real matches);
      // replicas i>0 re-tokenize every gap so their shingles are
      // disjoint from the batch — index VOLUME scales G×, the true
      // match set stays fixed, exactly a growing production corpus
      val indexDocs = (0 until g).map { i =>
        val base = d0.filter(col("doc_id") % 10 =!= 0)
        val txt = if (i == 0) col("text")
          else regexp_replace(col("text"), " ", s" q$i ")
        base.select((col("doc_id") + lit(i * off)).as("doc_id"),
          txt.as("text"))
      }.reduce(_ unionByName _)
      val indexSigs = Dedup.minhash(indexDocs, "text",
        shingleK = 3, numHashes = 32).persist()
      val nIdx = indexSigs.count() // materialize OUTSIDE the timing:
      // the index is pre-existing state in production, not batch cost
      val t0 = System.nanoTime()
      val cands = Dedup.lshCandidatesAgainst(indexSigs, newSigs,
        "doc_id", bands = 16, sigLen = 32)
        .toDF("doc_id", "index_id")
      val verdicts = Dedup.minhashJaccard(
          cands.select(col("doc_id").as("id_a"), col("index_id").as("id_b")),
          indexSigs.unionByName(newSigs), "doc_id")
        .filter(col("est_jaccard") >= 0.5)
      val nDup = verdicts.select("id_a").distinct().count()
      val nCand = cands.count()
      val wall = (System.nanoTime() - t0) / 1e9
      // round-9 d11 production path: the banded index PERSISTED once
      // (admission-job cost, outside the timing), each batch probing
      // the stored narrow table — no signature recompute, no
      // re-banding. The per-batch wall must stay flat in G.
      val store = s"/tmp/graft_incscale_idx/g$g"
      val indexBuckets = Dedup.bandBuckets(indexSigs, "doc_id",
        bands = 16, sigLen = 32, as = "index_id")
      indexBuckets
        .repartition(col("band")).sortWithinPartitions("band", "bucket")
        .write.mode("overwrite").parquet(store)
      val t1 = System.nanoTime()
      val nCandStored = Dedup.probeBandedIndex(
        spark.read.parquet(store), newSigs, "doc_id",
        bands = 16, sigLen = 32).count()
      val storedWall = (System.nanoTime() - t1) / 1e9
      // round-10 pruned layout (BandIndex): the SAME index stored
      // range-partitioned by bucket with the per-file (min,max)
      // manifest, probed by a fixed TRICKLE batch — the streaming-
      // admission shape where pruning must pay off. Bucket hashes are
      // uniform, so a pruned probe's cost is capped by the batch's key
      // count (16 bands × 4 docs = 64 bucket keys → ≤64 base files
      // opened) no matter how large the index grows, while the
      // full-scan probe streams every index row. File size is held
      // constant (1024 rows) so base file count grows ~1.8×g — the
      // files/keys ratio a 10⁹-doc index reaches with production-sized
      // (4M-row) files.
      val lsm = s"/tmp/graft_incscale_lsm/g$g"
      BandIndex.write(indexBuckets, lsm, "bucket", targetRowsPerFile = 1024)
      val micro = newSigs.filter(col("doc_id") <= 30) // docs 0,10,20,30
      val t2 = System.nanoTime()
      val nFull = Dedup.probeBandedIndex(spark.read.parquet(lsm), micro,
        "doc_id", bands = 16, sigLen = 32).count()
      val fullWall = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val (prunedPairs, pstats) = BandIndex.probe(lsm, micro, "doc_id",
        bands = 16, sigLen = 32)
      val nPruned = prunedPairs.count()
      val prunedWall = (System.nanoTime() - t3) / 1e9
      require(nPruned == nFull,
        s"pruned probe diverged from full scan: $nPruned vs $nFull")
      println(f"g=$g%2d index=$nIdx%8d batch=$nNew%6d cands=$nCand%7d " +
        f"dup_docs=$nDup%6d wall=$wall%.2f s " +
        f"stored_probe_cands=$nCandStored%7d stored_probe_wall=$storedWall%.2f s")
      println(f"g=$g%2d trickle_probe: base_files=${pstats.baseFiles}%4d " +
        f"selected=${pstats.selectedBase}%3d tail=${pstats.tailFiles}%2d " +
        f"cands=$nPruned%4d pruned_wall=$prunedWall%.2f s " +
        f"fullscan_wall=$fullWall%.2f s")
      indexSigs.unpersist()
    }
    spark.stop()
  }
}

object DelScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val reps = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(1, 5, 10, 20)
    val spark = Harness.session()
    Tables.configure(spark)

    val e0 = Tables(spark, sfDir, "events").select(
      concat(lit("u"), col("user_id")).as("subject"),
      unix_millis(col("ts")).as("t_ms"),
      col("value"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))
    reps.foreach { g =>
      val base = s"/tmp/graft_delscale/g$g"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      // G day-shifted copies: same rows/day, G× more day partitions —
      // EXACTLY the axis the round-7 replaceSubject rewrite scaled on
      val big = (0 until g).map(i => e0.select(col("subject"),
          col("t_ms"), col("value"),
          date_format(date_add(to_date(col("day")), i * 40), "yyyy-MM-dd")
            .as("day")))
        .reduce(_ unionByName _)
      val st = new TsStore(spark, s"$base/st", subject = "subject",
        time = "t_ms", soleCols = Nil, dayCol = col("day"))
      st.set(big); st.save()
      val nDays = st.snapshotDays.size
      val t0 = System.nanoTime()
      st.deleteWhere(col("subject") === "u2" && col("day") === "2024-01-10",
        _ == "2024-01-10")
      val delWall = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      st.dropSubject("u3")
      val dropWall = (System.nanoTime() - t1) / 1e9
      val left = st.read()
        .filter(col("subject").isin("u2", "u3") &&
          col("__day") === "2024-01-10").count()
      println(f"g=$g%2d days=$nDays%4d del_1_subject_day=$delWall%.2f s " +
        f"drop_subject=$dropWall%.3f s residual_rows=$left")
    }
    spark.stop()
  }
}

/** Shared local session shape for the scale mains (mirrors Bench). */
private[graft] object Harness {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
