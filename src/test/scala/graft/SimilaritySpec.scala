package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** ANN-LSH recall against the brute-force exact baseline on clustered
  * synthetic vectors. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 20 clusters × 6 points, dim 16: cluster members are mutual top-5
  private val dim = 16
  private val vecs: Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(3)
    (0 until 20).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 6).map { j =>
        val v = center.map(_ + rnd.nextGaussian() * 0.08)
        ((c * 6 + j).toLong, v)
      }
    }
  }
  private def emb = vecs.toDF("vec_id", "embedding")

  test("brute-force top-k finds cluster members") {
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 6),
      "vec_id", "embedding", 5)
    val got = out.collect().map(r =>
      (r.getLong(0), r.getLong(1))).groupBy(_._1)
    got.foreach { case (q, ns) =>
      val sameCluster = ns.count { case (_, n) => n / 6 == q / 6 }
      assert(sameCluster == 5, s"query $q neighbors ${ns.toSeq}")
    }
  }

  test("LSH top-k recall >= 0.9 vs brute force") {
    val queries = emb.filter(col("vec_id") % 6 === 0)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5,
        nPlanes = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("IVF top-k recall >= 0.9 vs brute force on clusterable data") {
    val queries = emb.filter(col("vec_id") % 6 === 0)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nlist = 12, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall")
  }

  test("stored IVF index probe == inline ivfTopK, through parquet") {
    val queries = emb.filter(col("vec_id") % 6 === 0)
    val cents = Similarity.trainCentroids(emb, "embedding", nlist = 12)
    val inline = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nlist = 12, nprobe = 3, precomputed = Some(cents))
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSeq
    val root = java.nio.file.Files
      .createTempDirectory("ivf_idx").toString + "/index"
    Similarity.ivfAssignments(emb, "vec_id", "embedding", cents)
      .write.mode("overwrite").partitionBy("cell").parquet(root)
    val stored = Similarity.probeIvfIndex(spark.read.parquet(root),
        queries, "vec_id", "embedding", 5, cents, nprobe = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSeq
    assert(stored == inline && stored.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("centroid sidecar round-trips bit-exactly; probe needs no training data") {
    val root = java.nio.file.Files
      .createTempDirectory("ivf_sidecar").toString + "/index"
    val cents = Similarity.trainCentroids(emb, "embedding", nlist = 12)
    Similarity.ivfAssignments(emb, "vec_id", "embedding", cents)
      .write.mode("overwrite").partitionBy("cell").parquet(root)
    assert(Similarity.loadCentroids(spark, root).isEmpty,
      "sidecar must be absent until saveCentroids commits (mid-build crash marker)")
    Similarity.saveCentroids(spark, root, cents)
    val loaded = Similarity.loadCentroids(spark, root).get
    assert(loaded.length == cents.length &&
      loaded.zip(cents).forall { case (a, b) =>
        a.zip(b).forall { case (x, y) =>
          java.lang.Double.doubleToLongBits(x) ==
            java.lang.Double.doubleToLongBits(y) } },
      "sidecar doubles did not round-trip bit-exactly")
    // the steady path: queries + sidecar + stored index, no corpus
    val queries = emb.filter(col("vec_id") % 6 === 0)
    val viaSidecar = Similarity.probeIvfIndex(spark.read.parquet(root),
        queries, "vec_id", "embedding", 5, loaded, nprobe = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSeq
    val viaTrained = Similarity.probeIvfIndex(spark.read.parquet(root),
        queries, "vec_id", "embedding", 5, cents, nprobe = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSeq
    assert(viaSidecar == viaTrained && viaSidecar.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("incremental IVF: appended batches probe identically to a from-scratch union index") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_incr")
      .toString + "/ix"
    val base = emb.filter(pmod(col("vec_id"), lit(3)) < 2)
    val b1 = emb.filter(pmod(col("vec_id"), lit(3)) === 2)
    // appending before the base exists fails loudly, not silently
    intercept[IllegalStateException] {
      Similarity.ivfAppendBatch(b1, root, 1L, "vec_id", "embedding")
    }
    val cents = Similarity.ivfBuildBase(base, root, "vec_id", "embedding",
      nlist = 8)
    Similarity.ivfAppendBatch(b1, root, 1L, "vec_id", "embedding")
    // batch 0 is reserved for the base build
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendBatch(b1, root, 0L, "vec_id", "embedding")
    }
    val queries = emb.filter(col("vec_id") < 6)
    def probeRows(index: org.apache.spark.sql.DataFrame) =
      Similarity.probeIvfIndex(index, queries, "vec_id", "embedding", 5, cents)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 9).as("cosine"), col("rank"))
        .orderBy("query_id", "rank").collect().toSeq
    val viaTree = probeRows(spark.read.parquet(root))
    val viaScratch = probeRows(
      Similarity.ivfAssignments(emb, "vec_id", "embedding", cents))
    assert(viaTree == viaScratch,
      "incremental tree probe diverged from the from-scratch union probe")
    // replayed append: slot overwrite keeps the index flat
    Similarity.ivfAppendBatch(b1, root, 1L, "vec_id", "embedding")
    assert(spark.read.parquet(root).count() == vecs.size,
      "a replayed append grew the index")
    assert(probeRows(spark.read.parquet(root)) == viaTree)
  }

  test("drift monitor: tv = 0 for identical batches, 1 for disjoint cells, and a shift trips the dial") {
    val cents = Similarity.trainCentroids(emb, "embedding", nlist = 8)
    val asg = Similarity.ivfAssignments(emb, "vec_id", "embedding", cents)
    // identical distributions: exactly zero
    assert(Similarity.totalVariation(Similarity.ivfDriftStats(asg, asg))
      == 0.0)
    // disjoint supports: exactly one (full-outer join + zero-fill
    // must cover cells the other side never used)
    val cellsOf = asg.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(cellsOf.length >= 2, "test needs at least two used cells")
    val lhs = asg.filter(col("cell") === cellsOf.head)
    val rhs = asg.filter(col("cell") === cellsOf.last)
    assert(Similarity.totalVariation(Similarity.ivfDriftStats(lhs, rhs))
      == 1.0)
    // a per-coordinate covariate shift scores well above the same
    // vectors unshifted (these spec vectors are 20 TIGHT gaussian
    // clusters — a shift must clear the cluster radius to re-assign,
    // hence +3 here where the diffuse real-embedding query uses +1)
    val shifted = Similarity.ivfAssignments(
      emb.withColumn("embedding",
        transform(col("embedding"), x => x + lit(3.0d))),
      "vec_id", "embedding", cents)
    val tvShift = Similarity.totalVariation(
      Similarity.ivfDriftStats(asg, shifted))
    assert(tvShift > 0.2, s"shift did not register: tv=$tvShift")
    // shares sum to 1 on both sides of any stats frame
    val st = Similarity.ivfDriftStats(asg, shifted)
      .agg(sum("share_ref"), sum("share_new")).head
    assert(math.abs(st.getDouble(0) - 1.0) < 1e-9 &&
      math.abs(st.getDouble(1) - 1.0) < 1e-9)
  }

  test("retrain cutover: stamps swap atomically, post-cutover recall >= pre-drift recall") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_cut")
      .toString + "/ix"
    // base corpus: clusters 0-9; the drifted batch moves clusters
    // 10-19 into a genuinely new region (+4 per coordinate clears
    // every cluster radius), so stamp-a centroids never saw it
    val base = emb.filter(col("vec_id") < 60)
    val drift = emb.filter(col("vec_id") >= 60).withColumn("embedding",
      transform(col("embedding"), x => x + lit(4.0d)))
    def recallOf(idx: org.apache.spark.sql.DataFrame,
        cents: Array[Array[Double]],
        corpus: org.apache.spark.sql.DataFrame,
        queries: org.apache.spark.sql.DataFrame): Double = {
      val truth = Similarity.bruteForceTopK(corpus, queries,
          "vec_id", "embedding", 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Similarity.probeIvfIndex(idx, queries,
          "vec_id", "embedding", 5, cents)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      truth.count(got.contains).toDouble / truth.size
    }
    // before the first cutover nothing serves; flipping to an unbuilt
    // stamp is refused (no sidecar = torn or absent tree)
    intercept[IllegalStateException](Similarity.openCurrentIvf(spark, root))
    intercept[IllegalArgumentException](
      Similarity.ivfCutover(spark, root, "a"))
    Similarity.ivfRebuildStamp(base, root, "a", "vec_id", "embedding",
      nlist = 10)
    Similarity.ivfCutover(spark, root, "a")
    val (sA, idxA, centsA) = Similarity.openCurrentIvf(spark, root)
    assert(sA == "a")
    val qBase = base.filter(col("vec_id") % 6 === 0)
    val rPreDrift = recallOf(idxA, centsA, base, qBase)
    // drift lands via the O(batch) append path into the serving stamp
    Similarity.ivfAppendBatch(drift, Similarity.ivfStampPath(root, "a"),
      1L, "vec_id", "embedding")
    val union = base.unionByName(drift)
    val qAll = union.filter(col("vec_id") % 6 === 0)
    // rebuild the retrained index aside; the marker must not move and
    // rebuild-onto-serving / drop-serving are refused
    intercept[IllegalArgumentException](Similarity.ivfRebuildStamp(
      union, root, "a", "vec_id", "embedding"))
    intercept[IllegalArgumentException](
      Similarity.dropIvfStamp(spark, root, "a"))
    Similarity.ivfRebuildStamp(union, root, "b", "vec_id", "embedding",
      nlist = 20)
    assert(Similarity.currentIvfStamp(spark, root).contains("a"),
      "a rebuild must not move the cutover marker")
    Similarity.ivfCutover(spark, root, "b")
    val (sB, idxB, centsB) = Similarity.openCurrentIvf(spark, root)
    assert(sB == "b")
    // the retrained index serves the drifted union at least as well
    // as the old index served the world before the drift
    val rPost = recallOf(idxB, centsB, union, qAll)
    assert(rPost >= rPreDrift,
      s"post-cutover recall $rPost < pre-drift recall $rPreDrift")
    // a probe session resolves ONE stamp: every file it reads is b's
    val files = idxB.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("stamp=b")))
    // the retired stamp reclaims; the serving one still refuses
    Similarity.dropIvfStamp(spark, root, "a")
    assert(!new java.io.File(Similarity.ivfStampPath(root, "a")).exists())
    intercept[IllegalArgumentException](
      Similarity.dropIvfStamp(spark, root, "b"))
  }

  test("quantized top-k with exact rerank recovers brute-force top-k") {
    val queries = emb.filter(col("vec_id") % 6 === 0)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding",
        k = 5, rerankC = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // int8 keeps ~2 decimal digits of the scores; with a 4x rerank
    // pool the exact stage recovers the true top-5 on clustered data
    val recall = exact.count(quant.contains).toDouble / exact.size
    assert(recall >= 0.95, s"quantized recall $recall")
    // quantization is deterministic and bounded
    val qi = Similarity.quantizeIndex(emb, "vec_id", "embedding")
    val bad = qi.select(explode(col("q")).as("x"))
      .filter(col("x") > 127 || col("x") < -127).count()
    assert(bad == 0L)
  }

  test("cosineDupPairs blocked path finds the same high-cosine pairs") {
    val exact = Similarity.cosineDupPairs(emb, "vec_id", "embedding",
        threshold = 0.97, blocked = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Similarity.cosineDupPairs(emb, "vec_id", "embedding",
        threshold = 0.97, blocked = true, nPlanes = 12, bands = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = exact.count(blocked.contains).toDouble / exact.size
    assert(recall >= 0.9, s"blocked recall $recall over ${exact.size} pairs")
  }

  test("randomProjection: bit-equal to a driver-side matrix multiply; JL holds") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 40).map(i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian())))
    val planes = graft.functions.VectorFunctions.randomPlanes(8, 32, seed = 42L)
    val scale = 1.0 / math.sqrt(8.0)
    val got = Similarity.randomProjection(
        rows.toDF("vec_id", "embedding"), "vec_id", "embedding", planes)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { case (id, v) =>
      planes.zipWithIndex.foreach { case (p, j) =>
        // same op order as the expression: left-to-right dot, then *scale
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * p(i); i += 1 }
        assert(got(id)(j) == d * scale,
          s"vec $id dim $j: ${got(id)(j)} != ${d * scale}")
      }
    }
    // JL expectation on this corpus: mean pairwise distortion near 1
    val ratios = for (a <- rows; b <- rows if a._1 < b._1) yield {
      val orig = a._2.zip(b._2).map { case (x, y) => (x - y) * (x - y) }.sum
      val pa = got(a._1); val pb = got(b._1)
      val proj = pa.zip(pb).map { case (x, y) => (x - y) * (x - y) }.sum
      proj / orig
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"JL mean distortion $mean")
  }

  test("randomProjection input contract: a null element, a wrong length or a null vector gives a null array") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dim = 4
    val planes = graft.functions.VectorFunctions.randomPlanes(3, dim, seed = 9L)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType, containsNull = true))))
    val rows = Seq(
      Row(0L, Seq[java.lang.Double](1.0, null, 2.0, 3.0)), // null element
      Row(1L, Seq[java.lang.Double](1.0, 2.0, 3.0)),       // short vector
      Row(2L, null),                                        // null vector
      Row(3L, Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0)))   // well-formed
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    // both evaluation paths: generated code and the interpreted fallback
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = Similarity.randomProjection(df, "vec_id", "embedding", planes)
          .collect().map(r => r.getLong(0) ->
            Option(r.getSeq[java.lang.Double](1))).toMap
        Seq(0L, 1L, 2L).foreach { id =>
          assert(got(id).isEmpty,
            s"$mode: vector $id must project to a null array, got ${got(id)}")
        }
        assert(got(3L).exists(p => p.size == 3 && p.forall(_ != null)),
          s"$mode: a well-formed vector must project to 3 non-null " +
            s"values, got ${got(3L)}")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("kernel plan strings render the matrices' shapes, never their values") {
    import graft.functions._
    val rnd = new scala.util.Random(11)
    def mat(r: Int, c: Int) = Array.fill(r, c)(rnd.nextGaussian())
    val v = col("embedding")
    val books = Array.fill(4)(mat(8, dim / 4))
    val kernels = Seq(
      HyperplaneSigExpr(v, mat(56, dim).toSeq) -> s"dim=$dim, n=56",
      RandomProjectExpr(v, mat(12, dim).toSeq, 0.5) -> s"dim=$dim, n=12, scale=0.5",
      IvfCellExpr(v, mat(8, dim)) -> s"dim=$dim, n=8",
      IvfTopCellsExpr(v, mat(8, dim), 3) -> s"dim=$dim, n=8, nprobe=3",
      PqEncodeExpr(v, books) -> s"m=4, ksub=8, dsub=${dim / 4}",
      PqAdcExpr(PqEncodeExpr(v, books), mat(4, 8)) -> "m=4, ksub=8")
    // a shuffle keeps the projection out of local-relation folding
    val plan = emb.repartition(2).select(kernels.map(_._1): _*)
      .queryExecution.executedPlan.toString
    kernels.foreach { case (_, shape) => assert(plan.contains(shape), plan) }
    assert("-?\\d+\\.\\d{6,}".r.findFirstIn(plan).isEmpty,
      s"a matrix value leaked into the plan string:\n$plan")
  }

  test("PQ: encode matches driver argmin, ADC = table lookups, full-shortlist search = exact") {
    val books = Similarity.trainPqCodebooks(emb, "embedding",
      m = 4, ksub = 8, seed = 5L)
    val dsub = dim / 4
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // every code in range, and equal to the driver-side argmin with
    // the same tie rule (max of dot - |c|^2/2, ties toward larger k)
    vecs.foreach { case (id, v) =>
      books.zipWithIndex.foreach { case (book, mi) =>
        val sub = v.slice(mi * dsub, (mi + 1) * dsub)
        val scores = book.map { c =>
          var d = 0.0; var i = 0
          while (i < sub.length) { d += sub(i) * c(i); i += 1 }
          d - c.map(x => x * x).sum / 2
        }
        val best = scores.zipWithIndex.maxBy { case (s, k) => (s, k) }._2
        assert(enc(id)(mi) == best, s"vec $id subspace $mi")
        assert(enc(id)(mi) >= 0 && enc(id)(mi) < 8)
      }
    }
    // ADC with the full corpus as shortlist + exact re-rank must
    // reproduce the brute-force L2 top-k exactly
    val q = vecs.head._2
    val dt = Similarity.pqDistanceTable(q, books)
    val out = Similarity.pqSearch(
        Similarity.pqEncode(emb.filter(col("vec_id") =!= 0L),
          "vec_id", "embedding", books),
        emb.filter(col("vec_id") =!= 0L), "vec_id", "embedding",
        q, dt, k = 5, shortlist = vecs.size)
      .collect().map(r => (r.getLong(0), r.getInt(3)))
    val exact = vecs.tail.map { case (id, v) =>
      id -> v.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum
    }.sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    assert(out.sortBy(_._2).map(_._1).toSeq == exact.toSeq,
      s"full-shortlist PQ search diverged from exact: ${out.toSeq} vs $exact")
  }

  test("IVFADC: cell-pruned PQ probe finds the query's cluster") {
    val q = vecs.head._2 // vec_id 0, cluster 0
    val cand = emb.filter(col("vec_id") =!= 0L)
    val cents = Similarity.trainCentroids(emb, "embedding", nlist = 12)
    val books = Similarity.trainPqCodebooks(emb, "embedding",
      m = 4, ksub = 8, seed = 5L)
    val dt = Similarity.pqDistanceTable(q, books)
    val probed = Similarity.queryCells(q, cents, nprobe = 3)
    assert(probed.size == 3 && probed.distinct.size == 3)
    // the query's own assigned cell must be probed FIRST — same
    // argmax arithmetic, so the nearest cell is its own
    val ownCell = cents.zipWithIndex.map { case (c, i) =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j) * q(j); j += 1 }
      (s - c.map(x => x * x).sum / 2, i)
    }.maxBy { case (s, i) => (s, i) }._2
    assert(probed.head == ownCell, s"probed $probed, own cell $ownCell")
    val out = Similarity.ivfPqSearch(cand, "vec_id", "embedding", q,
        cents, books, dt, k = 5, nprobe = 3, shortlist = vecs.size)
      .collect()
    assert(out.length == 5)
    // every winner's cell is a probed cell, and with a full-corpus
    // shortlist the re-rank is exact over the pruned set — the tight
    // cluster 0 members (ids 1-5) are the neighbors
    out.foreach(r => assert(probed.contains(r.getInt(1)),
      s"winner cell ${r.getInt(1)} not probed ($probed)"))
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L),
      s"IVFADC winners: ${out.map(_.getLong(0)).toSeq}")
  }

  test("stored IVFPQ: build/append/probe == in-query; retrain swaps atomically") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivfpq")
      .toString + "/ix"
    val q = vecs.head._2
    val cand = emb.filter(col("vec_id") =!= 0L)
    // rebuild-then-swap: nothing serves before the first cutover
    intercept[IllegalStateException] {
      Similarity.openCurrentIvfPq(spark, root)
    }
    val base = cand.filter(col("vec_id") % 2 === 0)
    val (cents, books) = Similarity.ivfPqBuildStamp(base, root, "g1",
      "vec_id", "embedding", nlist = 12, m = 4, ksub = 8)
    Similarity.ivfCutover(spark, root, "g1")
    // O(batch) append against the FROZEN sidecars; replay idempotent
    val b1 = cand.filter(col("vec_id") % 2 === 1)
    val g1Path = Similarity.ivfStampPath(root, "g1")
    Similarity.ivfPqAppendBatch(b1, g1Path, 1L, "vec_id", "embedding")
    val n = spark.read.parquet(g1Path).count()
    Similarity.ivfPqAppendBatch(b1, g1Path, 1L, "vec_id", "embedding")
    assert(spark.read.parquet(g1Path).count() == n,
      "replayed append grew the stored index")
    // the stored probe equals the in-query formulation over the union
    val (stamp, codes, c2, b2) = Similarity.openCurrentIvfPq(spark, root)
    assert(stamp == "g1")
    assert(c2.flatten.toSeq == cents.flatten.toSeq &&
      b2.flatten.flatten.toSeq == books.flatten.flatten.toSeq,
      "sidecars did not round-trip bit-exactly")
    val dt = Similarity.pqDistanceTable(q, b2)
    val stored = Similarity.probeStoredIvfPq(codes, cand, "vec_id",
        "embedding", q, c2, b2, k = 5, nprobe = 3, shortlist = vecs.size)
      .select("vec_id", "cell", "adc_rank", "d2", "rank")
      .orderBy("rank").collect().toSeq
    val inQuery = Similarity.ivfPqSearch(cand, "vec_id", "embedding", q,
        c2, b2, dt, k = 5, nprobe = 3, shortlist = vecs.size)
      .select("vec_id", "cell", "adc_rank", "d2", "rank")
      .orderBy("rank").collect().toSeq
    assert(stored == inQuery,
      s"stored $stored != in-query $inQuery")
    assert(stored.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    // retrain aside under g2: the serving tree is untouched until the
    // one-marker flip; after it, the probe serves g2; g1 then drops
    Similarity.ivfPqBuildStamp(cand, root, "g2", "vec_id", "embedding",
      nlist = 12, m = 4, ksub = 8, seed = 7L)
    assert(Similarity.currentIvfStamp(spark, root).contains("g1"),
      "a rebuild must not move the marker")
    intercept[IllegalArgumentException] {
      Similarity.ivfPqBuildStamp(cand, root, "g1", "vec_id", "embedding")
    }
    Similarity.ivfCutover(spark, root, "g2")
    val (s2, codes2, c3, b3) = Similarity.openCurrentIvfPq(spark, root)
    assert(s2 == "g2")
    val stored2 = Similarity.probeStoredIvfPq(codes2, cand, "vec_id",
        "embedding", q, c3, b3, k = 5, nprobe = 3, shortlist = vecs.size)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(stored2 == Set(1L, 2L, 3L, 4L, 5L),
      s"post-cutover probe lost the cluster: $stored2")
    intercept[IllegalArgumentException] {
      Similarity.dropIvfStamp(spark, root, "g2") // serving — refused
    }
    Similarity.dropIvfStamp(spark, root, "g1")
    assert(!new java.io.File(g1Path).exists())
  }

  test("drift dials: code-usage TV separates a shifted batch; empty slices read 0, not NPE") {
    import org.apache.spark.sql.functions._
    val vecs = (1L to 64L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 7.0 + d))))
    val df = vecs.toDF("vec_id", "embedding")
    val books = Similarity.trainPqCodebooks(df, "embedding", m = 4,
      ksub = 4, sampleSize = 64)
    val ref = Similarity.pqEncode(df, "vec_id", "embedding", books)
    val shifted = Similarity.pqEncode(
      df.withColumn("embedding", transform(col("embedding"), x => x + lit(2.0))),
      "vec_id", "embedding", books)
    val same = Similarity.pqCodeMaxTv(Similarity.pqCodeDriftStats(ref, ref))
    val far = Similarity.pqCodeMaxTv(Similarity.pqCodeDriftStats(ref, shifted))
    assert(same == 0.0, s"identical slices must read zero drift: $same")
    assert(far > 0.4, s"shifted batch did not move code usage: $far")
    // an empty micro-batch (or an empty monitor window) reads as 0.0
    // drift on both dials, never an NPE
    val empty = ref.limit(0)
    assert(Similarity.pqCodeMaxTv(
      Similarity.pqCodeDriftStats(empty, empty)) == 0.0)
    assert(Similarity.totalVariation(
      Similarity.ivfDriftStats(
        ref.select(lit(0).as("cell")).limit(0),
        ref.select(lit(0).as("cell")).limit(0))) == 0.0)
  }
}
