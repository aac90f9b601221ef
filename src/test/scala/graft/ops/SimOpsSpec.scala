package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.VectorFunctions

/** Similarity search: exact baseline correctness + ANN recall vs it. */
class SimOpsSpec extends SparkSpec {

  import spark.implicits._

  test("codegen dot product matches manual double fold") {
    VectorFunctions.register(spark)
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    assert(df.select(SimOps.dot($"a", $"b")).as[Double].head()
      == (4.0 + 10.0 + 18.0))
    // interpreted (eval) path must agree with codegen: force via filter
    val interp = df.filter(SimOps.dot($"a", $"b") > 31.9).count()
    assert(interp == 1)
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    VectorFunctions.register(spark)
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val out = df.select(round(SimOps.cosine($"a", $"b"), 9).as("c")).as[Double].collect()
    assert(out.toSeq == Seq(1.0, 0.0))
  }

  test("bruteForceTopK returns k ranked neighbors per query") {
    val e = Tables.load(spark, sf, "embeddings")
    val out = SimOps.bruteForceTopK(e.filter($"vec_id" === 0), e,
      "vec_id", "embedding", 3).collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    val cosines = out.map(_.getAs[Double]("cosine"))
    assert(cosines.sorted.reverse.toSeq == cosines.toSeq) // descending
    assert(cosines.forall(c => c >= -1.0001 && c <= 1.0001))
  }

  test("lshTopK recall@3 >= 0.8 vs the exact baseline on sf0.001") {
    // This corpus's nearest neighbors are weakly similar (cos ~0.45), so
    // signatures must be short and tables many: P(bucket hit per table) =
    // p_bit^planes with p_bit = 1 - arccos(c)/pi ~ 0.65 -> planes=4,
    // tables=16 gives expected recall ~0.96. The defaults (12 planes)
    // target the near-dup regime (cos >= 0.9) where long signatures still
    // collide and prune far harder.
    val e = Tables.load(spark, sf, "embeddings")
    val queries = e.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimOps.bruteForceTopK(queries, e, "vec_id", "embedding", 3))
    val approx = pairs(SimOps.lshTopK(queries, e, "vec_id", "embedding", 3,
      planes = 4, tables = 16))
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall below 0.8")
  }

  test("semDedup: planted dups die in-cluster, kills subset global, invariant") {
    val e = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    // plant an exact duplicate of vector 0 with a larger id: identical
    // vectors assign to the SAME cluster (same scores, same argmax), so
    // the planted copy must die whatever the trained clustering is
    val maxId = e.agg(max($"vec_id")).as[Long].head()
    val dup = e.filter($"vec_id" === 0)
      .select(lit(maxId + 1).as("vec_id"), $"embedding")
    val corpus = e.unionByName(dup)
    val out = SimOps.semDedup(corpus, "vec_id", "embedding", 8, 0.45)
    val survivors = out.select("vec_id").as[Long].collect().toSet
    assert(!survivors.contains(maxId + 1), "planted duplicate survived")
    assert(survivors.contains(0L), "the smaller-id original must survive")
    // cluster scoping can only MISS pairs: every semDedup kill must be a
    // kill under the exhaustive global rule too
    val globalKills = SimOps.cosineNearDupPairs(corpus, "vec_id", "embedding", 0.45)
      .select("b_id").as[Long].collect().toSet
    val kills = corpus.select("vec_id").as[Long].collect().toSet -- survivors
    assert(kills.subsetOf(globalKills),
      s"semDedup killed outside the global near-dup set: ${kills -- globalKills}")
    // deterministic at any parallelism (decimal-exact training)
    val again = SimOps.semDedup(corpus.repartition(7), "vec_id", "embedding", 8, 0.45)
      .select("vec_id").as[Long].collect().toSet
    assert(again == survivors)
  }

  test("meanPool: element-wise group means, ragged-safe, partition-invariant") {
    val df = Seq(
      (1L, "a", Array(1.0f, 2.0f)),
      (2L, "a", Array(3.0f, 4.0f)),
      (3L, "b", Array(10.0f, 20.0f)),
      (4L, "b", Array(10.0f, 20.0f, 30.0f))) // ragged third component
      .toDF("id", "grp", "vec")
    val out = SimOps.meanPool(df, "id", "grp", "vec")
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getSeq[Double](2).toList)).toMap
    assert(out("a") == ((2, List(2.0, 3.0))))
    // the ragged component pools over the vectors that HAVE it
    assert(out("b") == ((2, List(10.0, 20.0, 30.0))))
    val again = SimOps.meanPool(df.repartition(5), "id", "grp", "vec")
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getSeq[Double](2).toList)).toMap
    assert(again == out) // order-fixed fold => bit-identical at any parallelism
  }

  test("cosineNearDupPairs is symmetric-free (a < b) and thresholded") {
    val e = Tables.load(spark, sf, "embeddings").filter($"vec_id" < 100)
    val out = SimOps.cosineNearDupPairs(e, "vec_id", "embedding", 0.3)
      .as[(Long, Long, Double)].collect()
    assert(out.forall { case (a, b, c) => a < b && c >= 0.3 })
  }

  test("ivfTopK: deterministic, and recall@3 vs exact baseline beats its coverage") {
    val e = Tables.load(spark, sf, "embeddings")
    val queries = e.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimOps.bruteForceTopK(queries, e, "vec_id", "embedding", 3))
    val ivf1 = pairs(SimOps.ivfTopK(queries, e, "vec_id", "embedding", 3,
      nlist = 16, nprobe = 6))
    val ivf2 = pairs(SimOps.ivfTopK(queries, e, "vec_id", "embedding", 3,
      nlist = 16, nprobe = 6))
    assert(ivf1 == ivf2, "IVF result not deterministic across runs")
    val recall = (exact intersect ivf1).size.toDouble / exact.size
    // probing 6/16 lists = 37.5% of the corpus; similarity-directed
    // probing must beat random coverage
    assert(recall >= 0.5, s"recall $recall below 0.5")
    // full probe = exact: with nprobe == nlist every list is scanned
    val full = pairs(SimOps.ivfTopK(queries, e, "vec_id", "embedding", 3,
      nlist = 8, nprobe = 8))
    assert(full == exact, "nprobe == nlist must equal the exhaustive result")
  }

  test("trainCentroids: partitioning-invariant, and training helps recall") {
    val e = Tables.load(spark, sf, "embeddings")
    val c1 = SimOps.trainCentroids(e, "vec_id", "embedding", nlist = 8, iters = 2)
    // the training cache would satisfy this trivially (same content ->
    // same fingerprint -> cached result): clear it so the second call
    // RECOMPUTES and the assertion tests the decimal-sum determinism
    SimOps.clearTrainCache()
    val c2 = SimOps.trainCentroids(e.repartition(13), "vec_id", "embedding",
      nlist = 8, iters = 2)
    assert(c1.length == 8)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) },
      "trained centroids depend on partitioning")
    // Lloyd rounds must actually move the quantizer off the raw sample
    val raw = SimOps.sampleCentroids(e, "vec_id", "embedding", 8)
    assert(!c1.zip(raw).forall { case (a, b) => a.sameElements(b) },
      "training was a no-op")
    val queries = e.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimOps.bruteForceTopK(queries, e, "vec_id", "embedding", 3))
    val trained = pairs(SimOps.ivfTopKTrained(queries, e, "vec_id", "embedding",
      3, nlist = 16, nprobe = 6, iters = 2))
    val recall = (exact intersect trained).size.toDouble / exact.size
    assert(recall >= 0.5, s"trained-IVF recall $recall below 0.5")
  }

  test("ivfPqTopK: m-byte codes (not 4*dim floats), deterministic, recall >= 0.8") {
    val e = Tables.load(spark, sf, "embeddings")
    // the stored representation is the memory contract: m one-byte codes
    // per vector — array<tinyint> of length m — not dim 4-byte floats
    val books = SimOps.trainPqCodebooks(e, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 32)
    val enc = SimOps.pqEncode(e, "vec_id", "embedding", books)
    val codesField = enc.schema("__codes").dataType
    assert(codesField ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, true)
      || codesField ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, false),
      s"codes must be bytes, got $codesField")
    val lens = enc.select(size($"__codes")).as[Int].collect()
    assert(lens.forall(_ == 16), "one code per subspace")
    // codebook training is deterministic across partitionings
    val books2 = SimOps.trainPqCodebooks(e.repartition(7), "vec_id", "embedding",
      dim = 64, m = 16, ksub = 32)
    assert(books.zip(books2).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })

    val queries = e.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimOps.bruteForceTopK(queries, e, "vec_id", "embedding", 5))
    val pq = pairs(SimOps.ivfPqTopK(queries, e, "vec_id", "embedding", 5))
    val recall = (exact intersect pq).size.toDouble / exact.size
    // the synthetic embeddings are near-random — the quantizer worst
    // case; 0.82 at defaults is deterministic (sampled quantizer,
    // driver-side Lloyd, exact lookups — nothing run-dependent)
    assert(recall >= 0.8, s"IVF-PQ recall $recall below 0.8")
    val pq2 = pairs(SimOps.ivfPqTopK(queries, e, "vec_id", "embedding", 5))
    assert(pq == pq2)
  }

  test("zero-norm vectors score cosine 0, never NaN-rank #1 or pass thresholds") {
    VectorFunctions.register(spark)
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 0f, 0f))). // zero vector: 0/0 cosine without the guard
      toDF("vec_id", "embedding")
    val q = Seq((10L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val top = SimOps.bruteForceTopK(q, corpus, "vec_id", "embedding", 3)
      .orderBy("rank").collect()
    // NaN sorts above every number: an unguarded zero vector would rank #1
    assert(top.head.getLong(1) == 1L, s"zero vector outranked a true match: ${top.toSeq}")
    assert(top.forall(r => !r.getDouble(2).isNaN))
    val pairs = SimOps.cosineNearDupPairs(corpus, "vec_id", "embedding", 0.45)
      .collect()
    assert(!pairs.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L),
      s"zero vector passed the near-dup threshold: ${pairs.toSeq}")
  }

  test("null vectors propagate null cosine, not a silent 0 score") {
    VectorFunctions.register(spark)
    val df = Seq(
      (Some(Array(1f, 0f)), Some(Array(1f, 0f))),
      (None: Option[Array[Float]], Some(Array(1f, 0f))),
      (Some(Array(0f, 0f)), Some(Array(1f, 0f))))
      .toDF("a", "b")
    val out = df.select(SimOps.cosine($"a", $"b").as("c")).collect()
    assert(out(0).getDouble(0) == 1.0)
    // a MISSING embedding is unknown, not orthogonal: null must flow
    // through so downstream threshold filters drop the row
    assert(out(1).isNullAt(0), s"null vector scored ${out(1)}")
    // the zero-NORM guard still lands on 0 (not NaN/error under ANSI)
    assert(out(2).getDouble(0) == 0.0)
  }

  test("lshNearDupPairs (default op) matches the exhaustive baseline exactly") {
    val e = Tables.load(spark, sf, "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.as[(Long, Long, Double)].collect().toSet
    val exact = pairSet(SimOps.cosineNearDupPairs(e, "vec_id", "embedding", 0.45))
    val lsh = pairSet(SimOps.lshNearDupPairs(e, "vec_id", "embedding", 0.45))
    assert(exact.nonEmpty, "test data lost its planted near-dup pairs")
    assert(lsh == exact, s"LSH path diverged: missing ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("lshNearDupPairs plans as equi-join candidate gen — no nested-loop join") {
    val e = Tables.load(spark, sf, "embeddings")
    val plan = SimOps.lshNearDupPairs(e, "vec_id", "embedding", 0.45)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join in the default near-dup plan:\n$plan")
  }

  test("semDedup probes=2 catches a boundary-straddling dup probes=1 misses") {
    // two tight blobs plus a near-identical pair planted ON the boundary
    // with opposite tilts: top-1 assignment puts the members in
    // DIFFERENT clusters (the paper's blind spot), but each one's top-2
    // covers both clusters, so multi-probe candidate generation meets
    // the pair. The sampler seeds k-means from the two smallest
    // xxhash64(id) rows — so blob membership is assigned BY that rank:
    // the top-2 ranked ids become the blob cores (one per blob), which
    // makes Lloyd's convergence to the two blob means fixture-proof.
    val pool = (100L until 142L).toSeq
    val ranked = pool.toDF("vec_id")
      .orderBy(xxhash64($"vec_id"), $"vec_id").as[Long].collect()
    def jit(r: Int): Float = (r % 5) * 1e-3f
    val rows = ranked.zipWithIndex.map { case (id, r) =>
      if (r >= 40) // the two LAST-ranked ids are the straddling dup pair
        (id, if (r == 40) Array(0.8f, 0.6f, 0f, 0f)
             else Array(0.6f, 0.8f, 0f, 0f))
      else if (r % 2 == 0) (id, Array(1f, jit(r), 0f, 0f))  // blob A
      else (id, Array(jit(r), 1f, 0f, 0f))                  // blob B
    }.toSeq
    val straddlers = rows.drop(40).map(_._1).toSet
    val corpus = rows.toDF("vec_id", "embedding")
    val single = SimOps.semDedup(corpus, "vec_id", "embedding",
        nlist = 2, threshold = 0.9, iters = 2)
      .select("vec_id").as[Long].collect().toSet
    val multi = SimOps.semDedup(corpus, "vec_id", "embedding",
        nlist = 2, threshold = 0.9, iters = 2, probes = 2)
      .select("vec_id").as[Long].collect().toSet
    // the pair is cos 0.96 — a dup at 0.9 — yet single-probe keeps both
    assert(straddlers.subsetOf(single),
      s"fixture no longer straddles the boundary; survivors $single")
    assert(multi.intersect(straddlers) == Set(straddlers.min),
      s"multi-probe must kill the larger straddler id only: $multi")
    // multi-probe only ADDS candidate pairs: kills still subset exhaustive
    val globalKills = SimOps.cosineNearDupPairs(corpus, "vec_id", "embedding", 0.9)
      .select("b_id").as[Long].collect().toSet
    val ids = corpus.select("vec_id").as[Long].collect().toSet
    assert((ids -- multi).subsetOf(globalKills))
    // and the reported cluster stays the top-1 assignment (2 clusters)
    val clusters = SimOps.semDedup(corpus, "vec_id", "embedding",
        nlist = 2, threshold = 0.9, iters = 2, probes = 2)
      .select("cluster").distinct().count()
    assert(clusters == 2, s"expected the 2 top-1 clusters, got $clusters")
  }

  test("persisted IVF-PQ index: probe parity with in-query build, byte codes") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidx")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings")
    assert(!SimOps.ivfPqIndexExists(sink))
    val occupancy = SimOps.buildIvfPqIndex(e, "vec_id", "embedding", sink)
    assert(SimOps.ivfPqIndexExists(sink))
    // the index body is m one-byte codes per corpus vector, and every
    // corpus vector lands in exactly one inverted list
    val codes = sink.read("ann_codes")
    assert(codes.count() == e.count())
    assert(codes.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, true)
      || codes.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, false))
    assert(occupancy.agg(sum($"n_codes")).as[Long].head() == e.count())
    // training is deterministic, so probing the STORED index returns the
    // exact neighbor set of the in-query build at the same parameters
    val queries = e.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val stored = pairs(SimOps.ivfPqProbeIndex(queries, e, "vec_id", "embedding",
      sink, 5))
    val inQuery = pairs(SimOps.ivfPqTopK(queries, e, "vec_id", "embedding", 5))
    assert(stored == inQuery,
      s"stored-index probe diverged: missing ${inQuery -- stored}, extra ${stored -- inQuery}")
  }

  test("filtered probe: pre-filter semantics over stored attrs, decent recall") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidxf")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings")
    SimOps.buildIvfPqIndex(e, "vec_id", "embedding", sink,
      attrCols = Seq("label")).collect()
    val queries = e.filter($"vec_id" % 50 === 0)
    val got = SimOps.ivfPqProbeIndex(queries, e, "vec_id", "embedding",
      sink, k = 3, candidateFilter = Some($"label" === 3))
    // every result satisfies the predicate (pre-filter, not post-drop)
    val labels = got.join(e.select($"vec_id".as("neighbor_id"), $"label"),
      "neighbor_id").select("label").as[Int].collect()
    assert(labels.nonEmpty && labels.forall(_ == 3))
    // k results among the MATCHING vectors: recall vs exact brute force
    // over the filtered corpus (same bar as the unfiltered family)
    val exact = SimOps.bruteForceTopK(queries, e.filter($"label" === 3),
        "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = got.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.6, f"filtered recall $recall%.2f below bound")
  }

  test("SQ8-refine probe: self-contained plan, near-parity with exact refine") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidx8")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings")
    SimOps.buildIvfPqIndex(e, "vec_id", "embedding", sink,
      storeSq8 = true).collect()
    assert(sink.exists("ann_vecs8"))
    val queries = e.filter($"vec_id" % 50 === 0)
    val sq8 = SimOps.ivfPqProbeIndex(queries, e, "vec_id", "embedding",
      sink, 5, refineFromSq8 = true)
    // self-contained: past the query batch's own scan, the plan reads
    // ONLY index tables — the exact-refine probe scans the corpus a
    // second time for the refine fetch, this one must not
    val plan = sq8.queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("Scan parquet")).toSeq
    val nonIndex = scans.filterNot(l =>
      l.contains("ann_codes") || l.contains("ann_vecs8"))
    assert(scans.exists(_.contains("ann_vecs8")),
      s"refine not reading the SQ8 table:\n${scans.mkString("\n")}")
    assert(nonIndex.size <= 1,
      s"corpus scanned beyond the query batch (refine leaked back to " +
        s"exact vectors):\n${scans.mkString("\n")}")
    // near-parity: same candidate shortlists, re-ranked through a
    // <=1e-2-error codec — neighbor-set overlap with the exact-refine
    // probe stays high even where adjacent ranks swap
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimOps.ivfPqProbeIndex(queries, e, "vec_id",
      "embedding", sink, 5))
    val approx = pairs(sq8)
    val overlap = (approx & exact).size.toDouble / exact.size
    assert(overlap >= 0.8, f"SQ8-refine overlap $overlap%.2f below bound")
    // incremental add extends the SQ8 table too (ivfPqIndexAddMerges),
    // so an added vector is findable by an SQ8-refining probe
    val added = Seq((990001L, Array.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    SimOps.ivfPqIndexAdd(added, "vec_id", "embedding", sink)
    assert(sink.read("ann_vecs8").filter($"id" === 990001L).count() == 1)
    val near = Seq((990002L, Array.fill(64)(0.51f)))
      .toDF("vec_id", "embedding")
    val hit = SimOps.ivfPqProbeIndex(near, e, "vec_id", "embedding",
        sink, 5, refineFromSq8 = true)
      .filter($"neighbor_id" === 990001L).count()
    assert(hit == 1, "added vector not findable through the SQ8 refine")
    // and the singular add form refuses to leave ann_vecs8 stale
    intercept[IllegalArgumentException] {
      SimOps.ivfPqIndexAddMerge(added, "vec_id", "embedding", sink)
    }
    // a REBUILD without storeSq8 drops the SQ8 table rather than leave
    // stale codes for refineFromSq8 probes to silently trust
    SimOps.buildIvfPqIndex(e, "vec_id", "embedding", sink).collect()
    assert(!sink.exists("ann_vecs8"), "rebuild left a stale ann_vecs8")
    intercept[IllegalArgumentException] {
      SimOps.ivfPqProbeIndex(queries, e, "vec_id", "embedding", sink, 5,
        refineFromSq8 = true)
    }
  }

  test("index build is one atomic generation: shared group id; a torn mix fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_anngen")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings").filter($"vec_id" < 200)
    SimOps.buildIvfPqIndex(e, "vec_id", "embedding", sink).collect()
    // the build lands all tables under ONE group write — shared id
    val gids = Seq("ann_centroids", "ann_codebooks", "ann_codes")
      .map(sink.groupId)
    assert(gids.head.nonEmpty && gids.distinct.size == 1,
      s"index tables carry mixed/missing group ids: $gids")
    // an incremental add stays in the same generation family
    SimOps.ivfPqIndexAdd(
      Tables.load(spark, sf, "embeddings")
        .filter($"vec_id" >= 200 && $"vec_id" < 210),
      "vec_id", "embedding", sink)
    assert(sink.groupId("ann_codes") == gids.head,
      "index add must not leave the build's generation family")
    // the failure the guard exists for, made through the log: codes
    // committed by ANOTHER group write than the quantizers' — the probe
    // must refuse, not silently decode one generation's codes with
    // another's codebooks
    val codes = sink.read("ann_codes").localCheckpoint(true)
    sink.overwriteMany(Seq(graft.sink.TableWrite("ann_codes", codes)))
    assert(sink.groupId("ann_codes").nonEmpty && sink.groupId("ann_codes") != gids.head)
    val queries = e.filter($"vec_id" % 50 === 0)
    val ex = intercept[IllegalStateException] {
      SimOps.ivfPqProbeIndex(queries, e, "vec_id", "embedding", sink, 5)
    }
    assert(ex.getMessage.contains("torn generations"),
      s"wrong failure: ${ex.getMessage}")
    // a MISSING id among stamped siblings is as torn as a different
    // one: a solo overwrite commits the codes with no group id
    sink.overwrite("ann_codes", codes)
    assert(sink.groupId("ann_codes").isEmpty)
    val ex2 = intercept[IllegalStateException] {
      SimOps.ivfPqProbeIndex(queries, e, "vec_id", "embedding", sink, 5)
    }
    assert(ex2.getMessage.contains("torn generations"),
      s"wrong failure: ${ex2.getMessage}")
  }

  test("embedding LSH store: probe finds cross-set near-dups; admit makes batches cumulative") {
    val root = java.nio.file.Files.createTempDirectory("graft_embstore")
    val sink = new graft.sink.UpsertSink(spark, root.toString, numBuckets = 4)
    def unit(x: Float, y: Float) = { val n = math.sqrt(x * x + y * y).toFloat
      Array(x / n, y / n) }
    val archive = Seq(
      (1L, unit(1f, 0f)),
      (2L, unit(0f, 1f))
    ).toDF("vec_id", "embedding")
    SimOps.embLshStoreBuild(archive, "vec_id", "embedding", sink, dim = 2)
    assert(sink.groupId("embdup_sigs").nonEmpty &&
      sink.groupId("embdup_sigs") == sink.groupId("embdup_vecs"))
    val batch1 = Seq((10L, unit(0.99f, 0.05f))).toDF("vec_id", "embedding")
    val p1 = SimOps.embLshStoreAdmit(batch1, "vec_id", "embedding", sink,
        threshold = 0.9, dim = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(p1 == Set((1L, 10L)), s"probe pairs wrong: $p1")
    // a later batch near batch1's vector dedups against it too
    val p2 = SimOps.embLshStoreProbe(
        Seq((20L, unit(0.98f, 0.08f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", sink, threshold = 0.9, dim = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(p2 == Set((1L, 20L), (10L, 20L)), s"cumulative pairs wrong: $p2")
  }

  test("diverseSelect: diversity beats redundancy, deterministic, size-bounded") {
    // cluster A around +x (ids 1-5: four near-copies + one genuinely
    // different direction), cluster B around -x (ids 11-12). With k=2,
    // A must select the seed (min id) and the DIFFERENT member — never
    // a second near-copy, which is the whole point over random pick.
    def v(x: Float, y: Float, z: Float) = Array(x, y, z)
    val rows = Seq(
      (1L, v(1f, 0f, 0f)), (2L, v(0.99f, 0.01f, 0f)),
      (3L, v(0.98f, -0.01f, 0f)), (4L, v(0.99f, 0f, 0.01f)),
      (5L, v(0.6f, 0.8f, 0f)), // same half-space, far from the copies
      (11L, v(-1f, 0f, 0f)), (12L, v(-0.99f, 0.01f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val sel = SimOps.diverseSelect(df, "vec_id", "embedding",
      k = 2, nlist = 2, iters = 2)
    val byCluster = sel.as[(Int, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(byCluster.size == 2)
    val a = byCluster.values.find(_.contains(1L)).get
    assert(a == Seq(1L, 5L),
      s"greedy kept a near-copy over the diverse member: $a")
    val b = byCluster.values.find(_.contains(11L)).get
    assert(b.head == 11L && b.size == 2)
    // size bound: k larger than the cluster returns the whole cluster
    val all = SimOps.diverseSelect(df, "vec_id", "embedding",
      k = 10, nlist = 2, iters = 2)
    assert(all.count() == rows.length)
    assert(all.select("rank").as[Int].collect().forall(_ >= 1))
    // partition invariance
    val again = SimOps.diverseSelect(df.repartition(7), "vec_id",
        "embedding", k = 2, nlist = 2, iters = 2)
      .as[(Int, Long, Int)].collect().toSet
    assert(again == sel.as[(Int, Long, Int)].collect().toSet)
  }

  test("drift stats: self-sample scores low, shifted batch scores high") {
    val root = java.nio.file.Files.createTempDirectory("graft_anndrift")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings")
    SimOps.buildIvfPqIndex(e, "vec_id", "embedding", sink).collect()
    def tv(batch: org.apache.spark.sql.DataFrame): Double =
      SimOps.ivfIndexDriftStats(batch, "vec_id", "embedding", sink)
        .agg(sum($"gap_ppm")).as[Long].head() / 2e6
    // a subsample of the indexed corpus IS the trained distribution
    val self = tv(e.filter($"vec_id" % 3 === 0))
    // a mode-collapsed batch (every vector in one direction) piles all
    // its mass into one list — the unambiguous retrain signal
    val shifted = tv(e.limit(200).select($"vec_id",
      transform($"embedding", x => x * lit(0.0f) + lit(0.37f)).as("embedding")))
    assert(self < 0.25, f"self-sample drift $self%.3f unexpectedly high")
    assert(shifted > 0.5,
      f"collapsed batch drift $shifted%.3f not flagged (self was $self%.3f)")
    // shares are exact ppm: each side sums to ~1e6 (integer div remainder)
    val sums = SimOps.ivfIndexDriftStats(e, "vec_id", "embedding", sink)
      .agg(sum($"stored_ppm"), sum($"batch_ppm")).as[(Long, Long)].head()
    assert(sums._1 > 999000L && sums._1 <= 1000000L)
    assert(sums._2 > 999000L && sums._2 <= 1000000L)
    // an empty batch raises the NAMED in-plan error, never a silent
    // NULL alarm (and never an extra eager job on the happy path)
    val err = intercept[Exception] { tv(e.filter(lit(false))) }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("drift stats need")),
      s"unexpected failure shape: $err")
  }

  test("rebuildIfDrifted: stable no-op, drifted rebuild, probe correct through swap") {
    val root = java.nio.file.Files.createTempDirectory("graft_annrebuild")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings")
    SimOps.buildIvfPqIndex(e, "vec_id", "embedding", sink, storeSq8 = true)
      .collect()
    val v0 = sink.version("ann_codes")
    // a self-sample IS the trained distribution: decision records the
    // measured TV and fires nothing — the index is byte-untouched
    val stable = SimOps.rebuildIfDrifted(e.filter($"vec_id" % 3 === 0), e,
      "vec_id", "embedding", sink)
    assert(!stable.rebuilt && stable.totalVariation < 0.25)
    assert(sink.version("ann_codes") == v0,
      "stable batch still rewrote the index")
    // a mode-collapsed batch crosses the threshold: rebuild fires,
    // atomically (shadow swap), and PRESERVES the stored SQ8 shape
    val collapsed = e.limit(200).select($"vec_id",
      transform($"embedding", x => x * lit(0.0f) + lit(0.37f)).as("embedding"))
    val drifted = SimOps.rebuildIfDrifted(collapsed, e,
      "vec_id", "embedding", sink)
    assert(drifted.rebuilt && drifted.totalVariation > 0.5)
    assert(sink.version("ann_codes") != v0, "drifted batch did not rebuild")
    assert(sink.exists("ann_vecs8"),
      "rebuild dropped the SQ8 refine table the old build stored")
    // fires ONCE: the rebuilt quantizers absorb the corpus again, so a
    // fresh self-sample is back under threshold — no rebuild loop
    val after = SimOps.rebuildIfDrifted(e.filter($"vec_id" % 3 === 0), e,
      "vec_id", "embedding", sink)
    assert(!after.rebuilt, f"rebuild looped: post-rebuild self-drift ${after.totalVariation}%.3f")
    // and the serving path works off the rebuilt index end-to-end
    val nq = e.filter($"vec_id" % 100 === 0).count()
    val probe = SimOps.ivfPqProbeIndex(e.filter($"vec_id" % 100 === 0), e,
      "vec_id", "embedding", sink, 3, refineFromSq8 = true)
    assert(probe.count() == nq * 3,
      "post-rebuild probe lost queries or ranks")
  }

  test("nlistForCorpus: 4*sqrt(N) inside the floor / trainability / cap clamps") {
    // floor: tiny corpora keep the caller's shape
    assert(SimOps.nlistForCorpus(10) == 16)
    // the sqrt region: 4*sqrt(N) once past the clamps
    assert(SimOps.nlistForCorpus(1000000) == 4000)
    // trainability clamp: k-means wants >= 39 points per centroid
    // (4*sqrt(1000) = 126 wants more lists than 1000/39 = 25 affords)
    assert(SimOps.nlistForCorpus(1000) == 25)
    assert(SimOps.nlistForCorpus(1000, minNlist = 1) == 25)
    // cap: the single-index design envelope
    assert(SimOps.nlistForCorpus(100000000L) == 4096)
    assert(SimOps.nlistForCorpus(100000000L, maxNlist = 8192) == 8192)
    intercept[IllegalArgumentException] { SimOps.nlistForCorpus(0) }
  }

  test("scaleNlist rebuild re-derives the quantizer width from the corpus") {
    val root = java.nio.file.Files.createTempDirectory("graft_annscale")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings")
    val n = e.count()
    // bootstrap-era width: 4 lists (the corpus long ago outgrew it)
    SimOps.buildIvfPqIndex(e, "vec_id", "embedding", sink, nlist = 4)
      .collect()
    assert(sink.read("ann_centroids").select("list").distinct().count() == 4)
    val collapsed = e.limit(100).select($"vec_id",
      transform($"embedding", x => x * lit(0.0f) + lit(0.37f)).as("embedding"))
    // without the knob: the rebuild re-trains at the stale width
    val fixed = SimOps.rebuildIfDrifted(collapsed, e, "vec_id", "embedding",
      sink, nlist = 4)
    assert(fixed.rebuilt)
    assert(sink.read("ann_centroids").select("list").distinct().count() == 4)
    // with it: nlist re-derives from the CURRENT corpus size (floored
    // at the caller's nlist), and the probe works off the wider index
    val scaled = SimOps.rebuildIfDrifted(collapsed, e, "vec_id", "embedding",
      sink, nlist = 4, scaleNlist = true)
    assert(scaled.rebuilt)
    val wantNlist = SimOps.nlistForCorpus(n, minNlist = 4)
    assert(wantNlist > 4, s"fixture too small to exercise scaling ($n rows)")
    assert(sink.read("ann_centroids").select("list").distinct().count()
      == wantNlist)
    val nq = e.filter($"vec_id" % 100 === 0).count()
    val probe = SimOps.ivfPqProbeIndex(e.filter($"vec_id" % 100 === 0), e,
      "vec_id", "embedding", sink, 3)
    assert(probe.count() == nq * 3, "probe broken after the scaled rebuild")
  }

  test("sharded IVF-PQ: exact-union re-rank, no cross-shard dupes, recall holds") {
    val root = java.nio.file.Files.createTempDirectory("graft_annshard")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    assert(!SimOps.shardedIndexExists(spark, sink))
    SimOps.buildShardedIvfPqIndex(e, "vec_id", "embedding", sink,
      shards = 3, nlist = 8)
    assert(SimOps.shardedIndexExists(spark, sink))
    val queries = e.filter($"vec_id" % 50 === 0)
    val nq = queries.count()
    val got = SimOps.shardedProbeIndex(queries, e, "vec_id", "embedding",
      sink, k = 3)
    val rows = got.collect()
    // schema parity with the unsharded probe
    assert(got.columns.toSeq == Seq("query_id", "neighbor_id", "cosine", "rank"))
    assert(rows.length == nq * 3, s"expected ${nq * 3} rows, got ${rows.length}")
    // ids partition across shards -> a neighbor can never appear twice
    val perQuery = rows.groupBy(_.getLong(0))
    perQuery.foreach { case (q, rs) =>
      val ns = rs.map(_.getLong(1)).toSeq
      assert(ns.distinct.size == ns.size, s"query $q: duplicate neighbors $ns")
    }
    // recall vs exact brute force (the q70 convention)
    val exact = SimOps.bruteForceTopK(queries, e, "vec_id", "embedding", 3)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = perQuery.map { case (q, rs) =>
      rs.map(_.getLong(1)).count(exact(q).contains).toDouble / 3 }
    val recall = hits.sum / hits.size
    assert(recall >= 0.8, f"sharded recall@3 $recall%.2f < 0.8")
    // determinism
    val again = SimOps.shardedProbeIndex(queries, e, "vec_id", "embedding",
      sink, k = 3).collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
    assert(again.sorted.toSeq ==
      rows.map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted.toSeq)
  }

  test("sharded maintenance rebuilds ONLY the drifted shard") {
    val root = java.nio.file.Files.createTempDirectory("graft_annshardmaint")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    SimOps.buildShardedIvfPqIndex(e, "vec_id", "embedding", sink,
      shards = 2, nlist = 8)
    def shardSink(s: Int) = new graft.sink.UpsertSink(spark,
      java.nio.file.Paths.get(root.toString, f"ann_shard_$s%04d").toString,
      numBuckets = 8)
    val v0 = (0 until 2).map(s => shardSink(s).version("ann_codes"))
    // a mode-collapsed batch whose ids ALL route to shard 0: shard 0
    // must rebuild, shard 1 must not even be measured (empty slice)
    val toShard0 = e.filter(pmod(xxhash64($"vec_id"), lit(2L)) === 0L)
      .limit(100)
      .select($"vec_id",
        transform($"embedding", x => x * lit(0.0f) + lit(0.41f))
          .as("embedding"))
    val decisions = SimOps.maintainShardedIndex(toShard0, e, "vec_id",
      "embedding", sink)
    assert(decisions.map(_.shard) == Seq(0),
      s"expected only shard 0 measured, got $decisions")
    assert(decisions.head.decision.rebuilt, "collapsed slice did not rebuild")
    assert(shardSink(0).version("ann_codes") != v0(0),
      "drifted shard 0 not rewritten")
    assert(shardSink(1).version("ann_codes") == v0(1),
      "undrifted shard 1 was rewritten")
    // and the sharded probe still serves across the mixed generations
    val q = e.filter($"vec_id" % 100 === 0)
    assert(SimOps.shardedProbeIndex(q, e, "vec_id", "embedding", sink, 3)
      .count() == q.count() * 3)
  }

  test("sharded index tolerates empty hash ranges (high shard count, small corpus)") {
    // a 4096-shard deployment over a young corpus leaves empty hash
    // ranges: the build must skip them (an empty shard has no
    // neighbors), the probe must serve off the built ones only, and
    // maintenance must not try to drift-measure a never-built shard
    val root = java.nio.file.Files.createTempDirectory("graft_annshardsparse")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val tiny = e.limit(5).localCheckpoint()
    SimOps.buildShardedIvfPqIndex(tiny, "vec_id", "embedding", sink,
      shards = 64, nlist = 2)
    assert(SimOps.shardedIndexExists(spark, sink))
    val q = tiny.limit(2)
    val got = SimOps.shardedProbeIndex(q, tiny, "vec_id", "embedding",
      sink, k = 2).collect()
    assert(got.length == 4, s"expected 2 queries x k=2, got ${got.length}")
    // maintenance over a batch routed anywhere: never-built shards skip
    val decisions = SimOps.maintainShardedIndex(e.limit(50), tiny,
      "vec_id", "embedding", sink)
    assert(decisions.nonEmpty || true) // must simply not throw
  }

  test("sharded index tolerates a legacy meta row without the 'built' column") {
    // an index persisted before the commit-point column existed carries
    // a single-column meta: exists/probe must fall back to the old
    // count-the-built-shards semantics, not throw field-not-found
    val root = java.nio.file.Files.createTempDirectory("graft_annshardlegacy")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    SimOps.buildShardedIvfPqIndex(e, "vec_id", "embedding", sink,
      shards = 2, nlist = 8)
    val modern = SimOps.shardedProbeIndex(e.limit(3), e, "vec_id",
      "embedding", sink, k = 2).collect().map(_.toSeq).toSet
    // simulate the legacy layout: meta row with only `shards`
    sink.overwrite("ann_shard_meta", Seq(2).toDF("shards"), Seq("shards"))
    assert(SimOps.shardedIndexExists(spark, sink),
      "legacy meta broke shardedIndexExists")
    val legacy = SimOps.shardedProbeIndex(e.limit(3), e, "vec_id",
      "embedding", sink, k = 2).collect().map(_.toSeq).toSet
    assert(legacy == modern, "legacy meta changed the served result")
    // and a rebuild upgrades the meta in place
    SimOps.buildShardedIvfPqIndex(e, "vec_id", "embedding", sink,
      shards = 2, nlist = 8)
    assert(sink.read("ann_shard_meta").columns.contains("built"))
  }

  test("sharded build with scaleNlist sizes each shard's quantizer to its slice") {
    val root = java.nio.file.Files.createTempDirectory("graft_annshardscale")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    SimOps.buildShardedIvfPqIndex(e, "vec_id", "embedding", sink,
      shards = 2, nlist = 4, scaleNlist = true)
    (0 until 2).foreach { s =>
      val shardRoot = java.nio.file.Paths.get(root.toString, f"ann_shard_$s%04d")
      val ss = new graft.sink.UpsertSink(spark, shardRoot.toString, numBuckets = 8)
      val sliceN = ss.read("ann_codes").count()
      val want = math.max(4, SimOps.nlistForCorpus(sliceN, 4))
      val gotNlist = ss.read("ann_centroids").select("list").distinct().count()
      assert(gotNlist == want,
        s"shard $s: nlist $gotNlist != $want for a $sliceN-vector slice")
    }
  }

  test("drift rebuild preserves stored attr columns without being told") {
    // the maintenance caller (streaming cadence hook) knows nothing
    // about how the index was built: the rebuild must recover the attr
    // columns from the stored code lists, or it silently strips the
    // attribute pushdown a filtered-probe deployment depends on
    val root = java.nio.file.Files.createTempDirectory("graft_annattrs")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings")
    SimOps.buildIvfPqIndex(e, "vec_id", "embedding", sink,
      attrCols = Seq("label")).collect()
    val collapsed = e.limit(100).select($"vec_id",
      transform($"embedding", x => x * lit(0.0f) + lit(0.37f)).as("embedding"))
    val d = SimOps.rebuildIfDrifted(collapsed, e, "vec_id", "embedding", sink)
    assert(d.rebuilt, "collapsed batch did not trigger the rebuild")
    assert(sink.read("ann_codes").columns.contains("label"),
      "rebuild dropped the stored attr column")
    val got = SimOps.ivfPqProbeIndex(e.filter($"vec_id" % 50 === 0), e,
      "vec_id", "embedding", sink, k = 3,
      candidateFilter = Some($"label" === 3))
    val labels = got.join(e.select($"vec_id".as("neighbor_id"), $"label"),
      "neighbor_id").select("label").as[Int].collect()
    assert(labels.nonEmpty && labels.forall(_ == 3),
      "filtered probe broken after the shape-preserving rebuild")
  }

  test("broadcastQueries=false drops the probe hints without changing results") {
    // the corpus-scale-query escape hatch (round-7 advice): the default
    // plan pins two broadcasts of batch-bounded sides; unset, the hints
    // vanish from the analyzed plan (AQE then picks strategies from
    // measured sizes) and the RESULT is identical — same training, same
    // shortlist, different join strategy only
    val e = Tables.load(spark, sf, "embeddings")
    val queries = e.filter($"vec_id" % 50 === 0)
    val a = SimOps.ivfPqTopK(queries, e, "vec_id", "embedding", 5)
    val b = SimOps.ivfPqTopK(queries, e, "vec_id", "embedding", 5,
      broadcastQueries = false)
    assert(a.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "default probe lost its broadcast hints")
    assert(!b.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "escape hatch left broadcast hints in the plan")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pairs(a) == pairs(b), "join strategy changed the neighbor set")
  }

  test("int8Quantize: byte range, zero-vector totality, cosine round-trip") {
    val e = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    val q = SimOps.int8Quantize(e, "vec_id", "embedding")
    val rows = q.join(e, "vec_id")
      .as[(Long, Double, Seq[Byte], Seq[Float])].collect()
    assert(rows.length == e.count())
    var worst = 1.0
    rows.foreach { case (_, scale, codes, vec) =>
      assert(codes.length == vec.length)
      if (scale > 0) {
        // dequantized copy must preserve DIRECTION: cosine vs the
        // original stays near 1 (absmax SQ8's entire point)
        val deq = codes.map(_ / scale)
        val dot = deq.zip(vec).map { case (a, b) => a * b }.sum
        val na = math.sqrt(deq.map(x => x * x).sum)
        val nb = math.sqrt(vec.map(x => x.toDouble * x).sum)
        if (na > 0 && nb > 0) worst = math.min(worst, dot / (na * nb))
      } else assert(codes.forall(_ == 0))
    }
    assert(worst >= 0.995, f"round-trip cosine degraded to $worst%.4f")
    // zero vector: scale 0, all-zero codes, no NaN/error
    val z = SimOps.int8Quantize(
      Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding").as[(Long, Double, Seq[Byte])].head()
    assert(z._2 == 0.0 && z._3.forall(_ == 0))
  }

  test("int8Quantize native expressions are bit-identical to the HOF formulation") {
    // Int8Scale/Int8Codes replaced array_max(transform(abs)) +
    // transform(round(x*scale).cast(byte)) — interpreted HOFs whose
    // scale tree CollapseProject inlined PER ELEMENT. The replacement
    // must be arithmetic-shape identical (float max, 127.0/(double),
    // shortest-decimal HALF_UP round), pinned here against the old
    // formulation on the real corpus plus the edge fixtures.
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
      .unionByName(Seq(
        (900001L, Array(0f, 0f)),                 // zero vector
        (900002L, Array.empty[Float]),            // empty vector
        (900003L, Array(-2.5f, 2.5f, 127.5f)),    // .5 rounding, both signs
        (900004L, Array(1e-8f, -1e-8f))           // denormal-ish scale blowup
      ).toDF("vec_id", "embedding"))
    val absmax = array_max(transform($"embedding", x => abs(x)))
    val hofScale = when(absmax === lit(0.0f) || absmax.isNull, lit(0.0))
      .otherwise(lit(127.0) / absmax)
    val reference = e.select($"vec_id",
      round(hofScale, 6).as("scale"),
      transform($"embedding", x => round(x * hofScale).cast("byte")).as("q"))
    val native = SimOps.int8Quantize(e, "vec_id", "embedding")
    assert(native.exceptAll(reference).isEmpty &&
      reference.exceptAll(native).isEmpty,
      "native SQ8 drifted from the HOF reference")
    // and the plan is a map-only scan with no interpreted HOF left
    val plan = native.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantize shuffles:\n$plan")
    assert(!plan.toLowerCase.contains("transform("),
      s"interpreted HOF still in the quantize plan:\n$plan")
  }

  test("int8Quantize degrades non-finite components to code 0 instead of killing the job") {
    // one malformed embedding in a 100 TB corpus must not fail the
    // whole build: BigDecimal.valueOf throws on NaN/Inf, so the native
    // expression guards — NaN/Inf products quantize to 0
    val bad = Seq(
      (1L, Array(Float.NaN, 1.0f)),               // NaN component
      (2L, Array(Float.PositiveInfinity, -1.0f)), // Inf absmax -> scale 0-ish
      (3L, Array(1.0f, -2.0f))                    // sane control
    ).toDF("vec_id", "embedding")
    val out = SimOps.int8Quantize(bad, "vec_id", "embedding")
      .select("vec_id", "q").as[(Long, Seq[Byte])].collect()
      .map(r => r._1 -> r._2).toMap
    assert(out(1L)(0) == 0, s"NaN component not degraded: ${out(1L)}")
    assert(out(3L) == Seq(64, -127).map(_.toByte),
      s"sane vector mis-quantized: ${out(3L)}")
  }

  test("ivfPqIndexRemove: codes+SQ8 leave, probes never return erased ids, replay no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft_annrm")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings")
    // removal from a missing index fails loudly, not a silent no-op
    intercept[IllegalArgumentException] {
      SimOps.ivfPqIndexRemove(e.select("vec_id"), "vec_id", sink)
    }
    SimOps.buildIvfPqIndex(e, "vec_id", "embedding", sink,
      storeSq8 = true).collect()
    val centsV = sink.version("ann_centroids")
    val booksV = sink.version("ann_codebooks")
    val subjects = e.filter($"vec_id" % 5 === 0).select("vec_id")
    val nSubjects = subjects.count()
    val nAll = e.count()
    SimOps.ivfPqIndexRemove(subjects, "vec_id", sink,
      opId = Some("rm-spec-1"))
    // membership: exactly the survivors, in BOTH tables of the group
    for (tbl <- Seq("ann_codes", "ann_vecs8")) {
      val t = sink.read(tbl)
      assert(t.count() == nAll - nSubjects, s"$tbl: wrong survivor count")
      assert(t.filter($"id" % 5 === 0).count() == 0,
        s"$tbl: erased ids still stored")
    }
    // the trained quantizers are untouched (removal never retrains)
    assert(sink.version("ann_centroids") == centsV &&
      sink.version("ann_codebooks") == booksV,
      "removal rewrote the trained quantizers")
    // a post-removal probe (self-contained SQ8 refine) can never return
    // an erased id — its codes are gone from both stages
    val probed = SimOps.ivfPqProbeIndex(e.filter($"vec_id" % 7 === 0), e,
      "vec_id", "embedding", sink, 5, refineFromSq8 = true)
    assert(probed.filter($"neighbor_id" % 5 === 0).count() == 0,
      "probe returned an erased id")
    assert(probed.count() > 0, "probe returned nothing at all")
    // replay under the same op id: the erasure journal skips every
    // member — not one byte moves
    val codesV = sink.version("ann_codes")
    val sq8V = sink.version("ann_vecs8")
    SimOps.ivfPqIndexRemove(subjects, "vec_id", sink,
      opId = Some("rm-spec-1"))
    assert(sink.version("ann_codes") == codesV &&
      sink.version("ann_vecs8") == sq8V,
      "replayed removal moved bytes")
    // removing EVERY remaining vector truncates the code list: the
    // erasure succeeds, and a later probe refuses with the NAMED
    // empty-index error (not the transient-retry "kept changing")
    SimOps.ivfPqIndexRemove(e.select("vec_id"), "vec_id", sink)
    assert(!sink.hasData("ann_codes"))
    val empty = intercept[IllegalStateException] {
      SimOps.ivfPqProbeIndex(e.limit(3), e, "vec_id", "embedding", sink, 5)
    }
    assert(empty.getMessage.contains("empty code list"),
      s"wrong empty-index error: ${empty.getMessage}")
  }

  test("shardedIndexAdd: routed shards only, added findable, unbuilt shard refused") {
    val root = java.nio.file.Files.createTempDirectory("graft_shardadd")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    SimOps.buildShardedIvfPqIndex(e, "vec_id", "embedding", sink,
      shards = 4, nlist = 8, coarseIters = 1)
    val v0 = SimOps.shardedIndexVersions(spark, sink)
    // a batch hash-routed into ONE shard: only that shard's bytes move
    val batch = e.filter($"vec_id" % 5 === 1)
      .select(($"vec_id" + lit(50000000L)).as("vec_id"), $"embedding")
      .filter(SimOps.shardOf("vec_id", 4) === 1)
      .localCheckpoint()
    val n = batch.count()
    assert(n > 0, "test needs at least one routed vector")
    val added = SimOps.shardedIndexAdd(batch, "vec_id", "embedding", sink)
    assert(added == Map(1 -> n), s"routing went wrong: $added")
    val v1 = SimOps.shardedIndexVersions(spark, sink)
    for (s <- Seq(0, 2, 3))
      assert(v1(s) == v0(s), s"unrouted shard $s's bytes moved on add")
    assert(v1(1) != v0(1), "routed shard's bytes did not move")
    // an added vector is findable: probe with its own embedding — the
    // exact-cosine refine puts the identical vector at rank 1
    val one = batch.limit(1).localCheckpoint()
    val oneId = one.select("vec_id").as[Long].head()
    val hit = SimOps.shardedProbeIndex(
        one.select(($"vec_id" + 1L).as("vec_id"), $"embedding"),
        e.unionByName(batch), "vec_id", "embedding", sink, 3)
      .filter($"neighbor_id" === oneId).count()
    assert(hit == 1, "added vector not served by the sharded probe")
    // vectors routed to a never-built shard refuse UP FRONT — and
    // nothing is merged anywhere (the all-or-nothing routing gate)
    val sparse = new graft.sink.UpsertSink(spark,
      java.nio.file.Files.createTempDirectory("graft_shardadd_sparse")
        .toString)
    val tiny = e.limit(5).localCheckpoint()
    SimOps.buildShardedIvfPqIndex(tiny, "vec_id", "embedding", sparse,
      shards = 64, nlist = 2)
    val vs0 = SimOps.shardedIndexVersions(spark, sparse)
    val ex = intercept[IllegalArgumentException] {
      SimOps.shardedIndexAdd(e.limit(200), "vec_id", "embedding", sparse)
    }
    assert(ex.getMessage.contains("never-built"),
      s"wrong refusal: ${ex.getMessage}")
    assert(SimOps.shardedIndexVersions(spark, sparse) == vs0,
      "refused add still moved bytes")
  }

  test("establishShard: shape derived from siblings, crash orders repair, idempotent") {
    val root = java.nio.file.Files.createTempDirectory("graft_shardest")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    // found the index from ONE hash range only: shard 1 never builds
    val shard0 = e.filter(SimOps.shardOf("vec_id", 2) === 0)
      .localCheckpoint()
    val shard1 = e.filter(SimOps.shardOf("vec_id", 2) === 1)
      .limit(12).localCheckpoint()
    assert(shard1.count() >= 4, "fixture needs shard-1 vectors")
    SimOps.buildShardedIvfPqIndex(shard0, "vec_id", "embedding", sink,
      shards = 2, nlist = 4, m = 4, ksub = 8, coarseIters = 1,
      storeSq8 = true)
    val n0 = SimOps.shardedIndexPopulation(spark, sink)

    // establish via the add escape: the shard's quantizer SHAPE must
    // come from the built sibling — including SQ8 presence, or the
    // fleet's self-contained probes would lose the new shard at refine
    SimOps.shardedIndexAdd(shard1, "vec_id", "embedding", sink,
      opId = Some("est-b0"), establishFrom = Some(shard0.limit(0)))
    assert(SimOps.shardedIndexExists(spark, sink),
      "establish left a torn meta commit")
    assert(SimOps.shardedIndexPopulation(spark, sink) ==
      n0 + shard1.count(), "established shard short")
    val ss1 = new graft.sink.UpsertSink(spark, java.nio.file.Paths
      .get(root.toString, SimOps.shardMemberName(1)).toString,
      numBuckets = 8)
    assert(ss1.exists("ann_vecs8"),
      "established shard did not inherit the sibling's SQ8 refine table")

    // idempotent on an already-built shard: only the meta can move
    val v1 = SimOps.shardedIndexVersions(spark, sink)
    SimOps.establishShard(shard1, "vec_id", "embedding", sink, 1,
      Some(shard0))
    assert(SimOps.shardedIndexVersions(spark, sink) == v1,
      "re-establishing a built shard moved its bytes")

    // CRASH ORDER (build landed, meta bump didn't), reconstructed on a
    // fresh fleet: the torn window refuses probes, and the establish
    // path's replay repairs the commit without rebuilding anything
    val root2 = java.nio.file.Files.createTempDirectory("graft_shardest2")
    val sink2 = new graft.sink.UpsertSink(spark, root2.toString)
    SimOps.buildShardedIvfPqIndex(shard0, "vec_id", "embedding", sink2,
      shards = 2, nlist = 4, m = 4, ksub = 8, coarseIters = 1,
      storeSq8 = true)
    val ss2 = new graft.sink.UpsertSink(spark, java.nio.file.Paths
      .get(root2.toString, SimOps.shardMemberName(1)).toString,
      numBuckets = 8)
    SimOps.buildIvfPqIndex(shard1, "vec_id", "embedding", ss2,
      nlist = 4, m = 4, ksub = 8, coarseIters = 1, storeSq8 = true)
    assert(!SimOps.shardedIndexExists(spark, sink2),
      "fixture did not reconstruct the torn window")
    intercept[IllegalArgumentException] {
      SimOps.shardedProbeIndex(shard1.limit(1), e, "vec_id", "embedding",
        sink2, 3)
    }
    val vTorn = SimOps.shardedIndexVersions(spark, sink2)
    SimOps.shardedIndexAdd(shard1, "vec_id", "embedding", sink2,
      opId = Some("est2-b0"), establishFrom = Some(shard0.limit(0)))
    assert(SimOps.shardedIndexExists(spark, sink2),
      "replay did not repair the torn meta commit")
    // repair touched the META only; the crashed build's shard bytes
    // stand (quantizers + codes identical content, version pins fixed)
    assert(SimOps.shardedIndexVersions(spark, sink2)
      .view.filterKeys(_ == 0).toMap == vTorn.view.filterKeys(_ == 0).toMap,
      "meta repair moved an untouched shard's bytes")

    // the OTHER direction never self-repairs: a partially-DELETED
    // fleet (disk < meta commit) is lost data, and the establish path
    // must keep the probe's loud torn-index refusal instead of
    // re-pointing the commit at the survivors (silent partial-corpus
    // serving). Reconstructed: drop shard 1's directory from the
    // now-consistent sink2 fleet (meta committed built=2)
    graft.sink.Fs.deleteRecursively(java.nio.file.Paths
      .get(root2.toString, SimOps.shardMemberName(1)))
    val exDel = intercept[IllegalStateException] {
      SimOps.shardedIndexAdd(shard1, "vec_id", "embedding", sink2,
        opId = Some("est2-b1"), establishFrom = Some(shard0.limit(0)))
    }
    assert(exDel.getMessage.contains("partially deleted"),
      s"wrong refusal for the lost-shard state: ${exDel.getMessage}")

    // attrCols ride the establish: a fleet built WITH attribute
    // columns must establish new shards carrying them, or the very
    // next journaled merge dies on the sink's schema contract
    val root3 = java.nio.file.Files.createTempDirectory("graft_shardest3")
    val sink3 = new graft.sink.UpsertSink(spark, root3.toString)
    val shard0a = shard0.withColumn("lang", lit("en"))
    val shard1a = shard1.withColumn("lang", lit("de"))
    SimOps.buildShardedIvfPqIndex(shard0a, "vec_id", "embedding", sink3,
      shards = 2, nlist = 4, m = 4, ksub = 8, coarseIters = 1,
      storeSq8 = true, attrCols = Seq("lang"))
    SimOps.shardedIndexAdd(shard1a, "vec_id", "embedding", sink3,
      attrCols = Seq("lang"), opId = Some("est3-b0"),
      establishFrom = Some(shard0a.limit(0)))
    val ss3 = new graft.sink.UpsertSink(spark, java.nio.file.Paths
      .get(root3.toString, SimOps.shardMemberName(1)).toString,
      numBuckets = 8)
    assert(ss3.read("ann_codes").columns.contains("lang"),
      "established shard dropped the fleet's attr columns")
    // and the attr-filtered probe still serves the established shard
    val hit = SimOps.shardedProbeIndex(
        shard1a.limit(1).select(($"vec_id" + 1L).as("vec_id"), $"embedding"),
        shard0a.unionByName(shard1a), "vec_id", "embedding", sink3, 1,
        nprobe = 4, refine = 30,
        candidateFilter = Some($"lang" === "de"), refineFromSq8 = true)
      .count()
    assert(hit == 1, "attr-filtered probe lost the established shard")
  }

  test("shardedIndexRemove: routed shards only, others byte-pinned, probe clean") {
    val root = java.nio.file.Files.createTempDirectory("graft_shardrm")
    val sink = new graft.sink.UpsertSink(spark, root.toString)
    val e = Tables.load(spark, sf, "embeddings")
    SimOps.buildShardedIvfPqIndex(e, "vec_id", "embedding", sink,
      shards = 4, nlist = 8, coarseIters = 1)
    // subjects hash-routed into ONE shard: only that shard's bytes move
    val home = 2
    val subjects = e.filter(SimOps.shardOf("vec_id", 4) === home &&
      $"vec_id" % 3 === 0).select("vec_id")
    assert(subjects.count() > 0, "test needs at least one routed subject")
    val v0 = SimOps.shardedIndexVersions(spark, sink)
    val removed = SimOps.shardedIndexRemove(subjects, "vec_id", sink,
      opId = Some("shrm-1"))
    assert(removed.keySet == Set(home),
      s"removal touched shards ${removed.keySet}, expected {$home}")
    assert(removed(home) == subjects.count())
    val v1 = SimOps.shardedIndexVersions(spark, sink)
    for (s <- Seq(0, 1, 3))
      assert(v1(s) == v0(s), s"unrouted shard $s's bytes moved")
    assert(v1(home) != v0(home), "routed shard's bytes did not move")
    // the sharded probe serves survivors only
    val probed = SimOps.shardedProbeIndex(e.filter($"vec_id" % 11 === 0),
      e, "vec_id", "embedding", sink, 5)
    val gone = probed.join(subjects.withColumnRenamed("vec_id",
      "neighbor_id"), Seq("neighbor_id")).count()
    assert(gone == 0, "sharded probe returned an erased id")
    // replay: per-shard journals make it a per-shard no-op
    val again = SimOps.shardedIndexRemove(subjects, "vec_id", sink,
      opId = Some("shrm-1"))
    assert(again.keySet == Set(home))
    val v2 = SimOps.shardedIndexVersions(spark, sink)
    assert(v2 == v1, "replayed sharded removal moved bytes")
  }
}
