package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sink.UpsertSink

/** Concurrent admit-vs-read over a persisted store GROUP (round-11
  * verdict #5) — the [[TextOps.minhashStoreProbe]] concurrency contract
  * moved from scaladoc prose to pinned behavior:
  *
  *  - admissions SERIALIZE per store (one admitter thread here — the
  *    sink's writer lease enforces single-writer anyway);
  *  - a concurrent reader under `snapshotMany` NEVER sees a torn group:
  *    every band posting's doc has its shingle row in the SAME capture
  *    (no phantom candidates — [[UpsertSink.mergeMany]] holds one lease
  *    across both tables and snapshotMany re-captures around any open
  *    writer window);
  *  - no admission is lost under the concurrent reader load: every
  *    admitted batch is immediately screenable (a later batch's dup of
  *    an EARLIER BATCH's doc — not just the archive's — must surface in
  *    the probe), and the final store holds archive + every batch.
  */
class StoreConcurrencySpec extends SparkSpec {

  import spark.implicits._

  private def docsDF(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  // digits tokenize OUT under the [a-z]+ tokenizer — encode the seed
  // as letters so every doc gets a genuinely distinct token stream
  // (with digit seeds every text collapsed to "w x w x ..." and the
  // pair assertions held trivially)
  private def letters(n: Long): String =
    n.toString.map(c => ('a' + (c - '0')).toChar).mkString
  private def uniqueText(seed: Long): String =
    (0 until 12).map(i => s"w${letters(seed)}${letters(i)}").mkString(" ")

  test("admit thread vs snapshotMany reader: no torn group, no lost admission") {
    val sink = new UpsertSink(spark,
      Files.createTempDirectory("graft_store_conc").toString, numBuckets = 4)
    val archive = docsDF((1L to 30L).map(i => (i, uniqueText(i))))
    TextOps.minhashStoreBuild(archive, "doc_id", "text", sink,
      n = 3, k = 32, bands = 8)

    // 3 batches; batch b's ids live in [100(b+1), 100(b+1)+9] —
    // DISJOINT from the archive's 1..30 (an id collision would PK-merge
    // over an archive doc's shingle set and silently change what the
    // probe verifies). Each batch carries one exact dup of an ARCHIVE
    // doc and — from batch 1 on — one exact dup of the PREVIOUS batch's
    // first novel doc, so the probe output proves the previous
    // admission landed.
    def batch(b: Long): DataFrame = {
      val base = 100 * (b + 1)
      val novel = (0L until 8L).map(i => (base + i, uniqueText(1000 + 10 * b + i)))
      val archDup = (base + 8, uniqueText(b + 1)) // dup of archive doc b+1
      val prevDup =
        if (b == 0) (base + 9, uniqueText(5000 + b)) // novel for batch 0
        else (base + 9, uniqueText(1000 + 10 * (b - 1))) // dup of batch b-1's first novel
      docsDF(novel :+ archDup :+ prevDup)
    }

    val admitterDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var admitErr: Option[Throwable] = None
    val pairsByBatch =
      new java.util.concurrent.ConcurrentHashMap[Long, Set[(Long, Long)]]()
    val admitter = new Thread(() => {
      try {
        (0L until 3L).foreach { b =>
          val out = TextOps.minhashStoreAdmit(batch(b), "doc_id", "text",
            sink, threshold = 0.9, n = 3, k = 32, bands = 8)
          pairsByBatch.put(b,
            out.select("a_id", "b_id").as[(Long, Long)].collect().toSet)
        }
      } catch { case t: Throwable => admitErr = Some(t) }
      finally admitterDone.set(true)
    }, "graft-store-admitter")

    @volatile var readerErr: Option[Throwable] = None
    var coherentRounds = 0
    val reader = new Thread(() => {
      try {
        while (!admitterDone.get()) {
          val snaps = sink.snapshotMany(Seq("neardup_bands", "neardup_shingles"))
          try {
            val bandDocs = snaps(0).df.select("doc_id").as[Long]
              .collect().toSet
            val shingleDocs = snaps(1).df.select("doc_id").as[Long]
              .collect().toSet
            // the contract: NEVER a band posting without its shingle
            // row (phantom candidate) nor a shingle row without its
            // postings — the group capture is one generation
            assert(bandDocs == shingleDocs,
              s"torn group capture: bands-only=${(bandDocs -- shingleDocs).toSeq.sorted.take(5)} " +
                s"shingles-only=${(shingleDocs -- bandDocs).toSeq.sorted.take(5)}")
            coherentRounds += 1
          } finally snaps.foreach(_.close())
        }
      } catch { case t: Throwable => readerErr = Some(t) }
    }, "graft-store-snapshot-reader")

    admitter.start(); reader.start()
    admitter.join(300000); reader.join(300000)
    assert(!admitter.isAlive && !reader.isAlive, "threads failed to finish")
    admitErr.foreach(t => fail(s"admitter died: $t", t))
    readerErr.foreach(t => fail(s"snapshot reader died: $t", t))
    assert(coherentRounds > 0, "reader never captured a snapshot round")

    // no lost admissions, part 1: every batch's ARCHIVE dup surfaced
    (0L until 3L).foreach { b =>
      assert(pairsByBatch.get(b).contains((b + 1, 100 * (b + 1) + 8)),
        s"batch $b: archive dup not screened: ${pairsByBatch.get(b)}")
    }
    // part 2: batch b's dup of batch b-1's doc surfaced — the PREVIOUS
    // admission was live in the store when batch b probed
    (1L until 3L).foreach { b =>
      assert(pairsByBatch.get(b).contains((100 * b, 100 * (b + 1) + 9)),
        s"batch $b: previous batch's admission invisible to the probe: " +
          s"${pairsByBatch.get(b)}")
    }
    // part 3: the final store holds archive + all three batches, both
    // tables agreeing doc-for-doc
    val want = (1L to 30L).toSet ++
      (0L until 3L).flatMap(b => (100 * (b + 1)) to (100 * (b + 1) + 9)).toSet
    val bandDocs = sink.read("neardup_bands").select("doc_id")
      .distinct().as[Long].collect().toSet
    val shingleDocs = sink.read("neardup_shingles").select("doc_id")
      .as[Long].collect().toSet
    assert(bandDocs == want, s"bands missing ${(want -- bandDocs).toSeq.sorted}")
    assert(shingleDocs == want,
      s"shingles missing ${(want -- shingleDocs).toSeq.sorted}")
  }

  test("embedding store group: the same contract holds for postings + vectors") {
    // the EMBEDDING modality's group (embdup_sigs LSH postings +
    // embdup_vecs exact vectors) lives under the same mergeMany
    // machinery — pin that a snapshotMany reader racing admissions
    // never captures a posting whose vector row is missing (a phantom
    // candidate would silently drop from the verify join)
    val sink = new UpsertSink(spark,
      Files.createTempDirectory("graft_emb_conc").toString, numBuckets = 4)
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i => math.sin(seed * 31 + i).toFloat)
    val archive = (1 to 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    SimOps.embLshStoreBuild(archive, "vec_id", "embedding", sink,
      planes = 4, tables = 8, dim = 16)
    val admitterDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var admitErr: Option[Throwable] = None
    val admitter = new Thread(() => {
      try (0 until 3).foreach { b =>
        val batch = (0 until 10)
          .map(i => ((100 * b + i).toLong, vec(1000 + 10 * b + i)))
          .toDF("vec_id", "embedding")
        SimOps.embLshStoreAdmit(batch, "vec_id", "embedding", sink,
          threshold = 0.9, planes = 4, tables = 8, dim = 16)
      } catch { case t: Throwable => admitErr = Some(t) }
      finally admitterDone.set(true)
    }, "graft-embstore-admitter")
    @volatile var readerErr: Option[Throwable] = None
    var rounds = 0
    val reader = new Thread(() => {
      try while (!admitterDone.get()) {
        val snaps = sink.snapshotMany(Seq("embdup_sigs", "embdup_vecs"))
        try {
          val sigIds = snaps(0).df.select("id").distinct().as[Long]
            .collect().toSet
          val vecIds = snaps(1).df.select("id").as[Long].collect().toSet
          assert(sigIds == vecIds,
            s"torn group: sigs-only=${(sigIds -- vecIds).toSeq.sorted.take(5)} " +
              s"vecs-only=${(vecIds -- sigIds).toSeq.sorted.take(5)}")
          rounds += 1
        } finally snaps.foreach(_.close())
      } catch { case t: Throwable => readerErr = Some(t) }
    }, "graft-embstore-reader")
    admitter.start(); reader.start()
    admitter.join(300000); reader.join(300000)
    assert(!admitter.isAlive && !reader.isAlive)
    admitErr.foreach(t => fail(s"admitter died: $t", t))
    readerErr.foreach(t => fail(s"reader died: $t", t))
    assert(rounds > 0, "reader never captured a snapshot round")
    val want = (1L to 20L).toSet ++
      (0 until 3).flatMap(b => (100L * b) to (100L * b + 9)).toSet
    assert(sink.read("embdup_vecs").select("id").as[Long].collect().toSet
      == want, "lost admissions in the vector table")
  }

  test("admitter vs ERASER vs snapshotMany reader: the r13 triangle — no torn group, no resurfaced subject, no lost admission") {
    // the erasure-concurrency contract end to end: an ADMITTER folds
    // batches while an ERASER retracts archive subjects through the
    // lease-scoped thunk (key derivation INSIDE the lease — the ADVICE
    // race) and a snapshotMany reader hammers both tables. Writers
    // serialize on the group lease; the reader must never see a torn
    // group; erased subjects must never resurface; every admission must
    // land.
    val sink = new UpsertSink(spark,
      Files.createTempDirectory("graft_store_tri").toString, numBuckets = 4)
    val archive = docsDF((1L to 30L).map(i => (i, uniqueText(i))))
    TextOps.minhashStoreBuild(archive, "doc_id", "text", sink,
      n = 3, k = 32, bands = 8)

    val writersDone = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var admitErr: Option[Throwable] = None
    val admitter = new Thread(() => {
      try (0L until 3L).foreach { b =>
        val base = 100 * (b + 1)
        val batch = docsDF((0L until 10L).map(i =>
          (base + i, uniqueText(1000 + 10 * b + i))))
        TextOps.minhashStoreAdmit(batch, "doc_id", "text", sink,
          threshold = 0.9, n = 3, k = 32, bands = 8)
      } catch { case t: Throwable => admitErr = Some(t) }
      finally writersDone.incrementAndGet()
    }, "graft-tri-admitter")

    @volatile var eraseErr: Option[Throwable] = None
    val eraser = new Thread(() => {
      // three erasure waves over disjoint archive subjects — each wave
      // derives its band keys inside the eraseMany lease, racing the
      // admitter's mergeMany leases on the SAME two tables
      try (0L until 3L).foreach { w =>
        val subjects = ((w * 5 + 1) to (w * 5 + 5)).toDF("doc_id")
        TextOps.minhashStoreRetract(subjects, "doc_id", sink)
      } catch { case t: Throwable => eraseErr = Some(t) }
      finally writersDone.incrementAndGet()
    }, "graft-tri-eraser")

    @volatile var readerErr: Option[Throwable] = None
    var rounds = 0
    val reader = new Thread(() => {
      try while (writersDone.get() < 2) {
        val snaps = sink.snapshotMany(Seq("neardup_bands", "neardup_shingles"))
        try {
          val bandDocs = snaps(0).df.select("doc_id").as[Long]
            .collect().toSet
          val shingleDocs = snaps(1).df.select("doc_id").as[Long]
            .collect().toSet
          assert(bandDocs == shingleDocs,
            s"torn group under admit+erase: " +
              s"bands-only=${(bandDocs -- shingleDocs).toSeq.sorted.take(5)} " +
              s"shingles-only=${(shingleDocs -- bandDocs).toSeq.sorted.take(5)}")
          rounds += 1
        } finally snaps.foreach(_.close())
      } catch { case t: Throwable => readerErr = Some(t) }
    }, "graft-tri-reader")

    admitter.start(); eraser.start(); reader.start()
    admitter.join(300000); eraser.join(300000); reader.join(300000)
    assert(!admitter.isAlive && !eraser.isAlive && !reader.isAlive,
      "threads failed to finish")
    admitErr.foreach(t => fail(s"admitter died: $t", t))
    eraseErr.foreach(t => fail(s"eraser died: $t", t))
    readerErr.foreach(t => fail(s"reader died: $t", t))
    assert(rounds > 0, "reader never captured a snapshot round")

    // final state: archive minus the 15 erased subjects, plus all 30
    // admitted docs — whatever the interleaving (erased ids are
    // disjoint from admitted ids, so admits and erases commute)
    val want = (16L to 30L).toSet ++
      (0L until 3L).flatMap(b => (100 * (b + 1)) to (100 * (b + 1) + 9)).toSet
    val bandDocs = sink.read("neardup_bands").select("doc_id")
      .distinct().as[Long].collect().toSet
    val shingleDocs = sink.read("neardup_shingles").select("doc_id")
      .as[Long].collect().toSet
    assert(bandDocs == want,
      s"bands: missing=${(want -- bandDocs).toSeq.sorted.take(5)} " +
        s"resurfaced=${(bandDocs -- want).toSeq.sorted.take(5)}")
    assert(shingleDocs == want,
      s"shingles: missing=${(want -- shingleDocs).toSeq.sorted.take(5)} " +
        s"resurfaced=${(shingleDocs -- want).toSeq.sorted.take(5)}")
    // and erased subjects never probe back as candidates
    val probe = TextOps.minhashStoreProbe(
        docsDF(Seq((901L, uniqueText(3L)))), "doc_id", "text", sink,
        threshold = 0.9, n = 3, k = 32, bands = 8)
      .select("a_id").as[Long].collect().toSet
    assert(!probe.contains(3L), s"erased subject resurfaced: $probe")
  }

  test("count store: concurrent admits and retracts COMMUTE — final inventory equals the sequential result") {
    // the count-retract shape under concurrency: counts are additive
    // and the subjects are disjoint from the batches, so whatever the
    // lease-serialized interleaving, the final segment inventory must
    // equal a fresh build on (archive - subjects) followed by the
    // admits — the count analog of the posting-group triangle above
    val sink = new UpsertSink(spark,
      Files.createTempDirectory("graft_count_conc").toString, numBuckets = 4)
    val boiler = "alpha beta gamma delta"
    def segText(seed: Long): String =
      s"$boiler u${letters(seed)}a u${letters(seed)}b u${letters(seed)}c u${letters(seed)}d"
    val archive = docsDF((1L to 20L).map(i => (i, segText(i))))
    TextOps.segmentStoreBuild(archive, "doc_id", "text", sink, segWords = 4)

    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var errs = List.empty[Throwable]
    def batch(b: Long): DataFrame =
      docsDF((0L until 5L).map(i => (100 * (b + 1) + i, segText(500 + 10 * b + i))))
    val admitter = new Thread(() => {
      try (0L until 3L).foreach { b =>
        TextOps.segmentStoreAdmit(batch(b), "doc_id", "text", sink,
          segWords = 4)
      } catch { case t: Throwable => errs ::= t }
      finally done.incrementAndGet()
    }, "graft-count-admitter")
    val eraser = new Thread(() => {
      try (0L until 3L).foreach { w =>
        TextOps.segmentStoreRetract(
          archive.filter(col("doc_id").between(w * 3 + 1, w * 3 + 3)),
          "doc_id", "text", sink, segWords = 4)
      } catch { case t: Throwable => errs ::= t }
      finally done.incrementAndGet()
    }, "graft-count-eraser")
    admitter.start(); eraser.start()
    admitter.join(300000); eraser.join(300000)
    assert(!admitter.isAlive && !eraser.isAlive)
    errs.foreach(t => fail(s"writer died: $t", t))

    val expected = new UpsertSink(spark,
      Files.createTempDirectory("graft_count_expect").toString,
      numBuckets = 4)
    TextOps.segmentStoreBuild(archive.filter(col("doc_id") > 9L),
      "doc_id", "text", expected, segWords = 4)
    (0L until 3L).foreach { b =>
      TextOps.segmentStoreAdmit(batch(b), "doc_id", "text", expected,
        segWords = 4)
    }
    def inv(k: UpsertSink): Set[(String, Long)] =
      k.read("segdedup_segs").select("seg_hash", "cnt")
        .as[(String, Long)].collect().toSet
    assert(inv(sink) == inv(expected),
      "concurrent admit+retract diverged from the sequential inventory")
  }

  test("search index: concurrent admits and erasures converge to the sequential index, stats row included") {
    // the r14 search-serving layer under the same discipline: admits
    // writer-lock all three tables (postings + lengths + the additive
    // stats fold), retracts lease the same set through eraseMany —
    // whatever the lease-serialized interleaving, disjoint doc sets
    // must converge to the sequential index BIT-EXACTLY, including the
    // (n, sum_dl) statistics row every future BM25 score derives from
    val sink = new UpsertSink(spark,
      Files.createTempDirectory("graft_search_conc").toString,
      numBuckets = 4)
    val archive = docsDF((1L to 20L).map(i => (i, uniqueText(i))))
    SearchOps.invertedIndexBuild(archive, "doc_id", "text", sink)

    @volatile var errs = List.empty[Throwable]
    def batch(b: Long): DataFrame =
      docsDF((0L until 5L).map(i =>
        (100 * (b + 1) + i, uniqueText(500 + 10 * b + i))))
    val admitter = new Thread(() => {
      try (0L until 3L).foreach { b =>
        SearchOps.invertedIndexAdmit(batch(b), "doc_id", "text", sink)
      } catch { case t: Throwable => errs ::= t }
    }, "graft-search-admitter")
    val eraser = new Thread(() => {
      try (0L until 3L).foreach { w =>
        SearchOps.invertedIndexRetract(
          archive.filter(col("doc_id").between(w * 3 + 1, w * 3 + 3)),
          "doc_id", "text", sink)
      } catch { case t: Throwable => errs ::= t }
    }, "graft-search-eraser")
    admitter.start(); eraser.start()
    admitter.join(300000); eraser.join(300000)
    assert(!admitter.isAlive && !eraser.isAlive)
    errs.foreach(t => fail(s"writer died: $t", t))

    val expected = new UpsertSink(spark,
      Files.createTempDirectory("graft_search_expect").toString,
      numBuckets = 4)
    SearchOps.invertedIndexBuild(archive.filter(col("doc_id") > 9L),
      "doc_id", "text", expected)
    (0L until 3L).foreach { b =>
      SearchOps.invertedIndexAdmit(batch(b), "doc_id", "text", expected)
    }
    def rows(k: UpsertSink, table: String): Set[Seq[Any]] =
      k.read(table)
        .select(k.read(table).columns.sorted.toIndexedSeq.map(col): _*)
        .collect().map(_.toSeq).toSet
    for (t <- Seq(SearchOps.Postings, SearchOps.DocLens, SearchOps.Stats))
      assert(rows(sink, t) == rows(expected, t),
        s"$t: concurrent admit+erase diverged from the sequential index")
  }

  test("sharded probe under snapshot racing a one-shard rebuild never mixes generations") {
    // r15 brief #6: the plain sharded probe's per-shard reads are
    // generation-coherent at plan time, but its code/refine scans
    // execute later — racing maintainShardedIndex's one-shard rebuild
    // they could score one generation's codes against another's
    // quantizers (lost candidates when the stale quantizer is
    // narrower) or die on a swapped-away file.
    // shardedProbeIndexSnapshot pins every shard's four tables as one
    // hard-linked capture, so a rebuild landing mid-probe is simply
    // not visible: under a continuous shard-0 rebuild storm the probe
    // must return the STABLE result every round (both generations are
    // content-equivalent by construction — same vectors, same PQ
    // params, only nlist alternates, and nprobe >= nlist probes every
    // list — so any deviation IS a torn read).
    def vec(seed: Long): Array[Float] = Array.tabulate(16)(i =>
      ((((seed * 31L + i) * 2654435761L) % 1000L) / 1000.0f) - 0.5f)
    val sink = new UpsertSink(spark,
      Files.createTempDirectory("graft_shard_race").toString, numBuckets = 4)
    val vecs = (1L to 24L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    SimOps.buildShardedIvfPqIndex(vecs, "vec_id", "embedding", sink,
      shards = 2, nlist = 2, m = 4, ksub = 4, coarseIters = 1,
      storeSq8 = true)
    val shard0 = new UpsertSink(spark, java.nio.file.Paths.get(
      sink.rootPath, SimOps.shardMemberName(0)).toString, numBuckets = 8)
    val slice0 = vecs.filter(SimOps.shardOf("vec_id", 2) === 0)
      .localCheckpoint()
    val queries = Seq((9001L, vec(3L)), (9002L, vec(17L)))
      .toDF("vec_id", "embedding")
    def probeOnce(): Set[(Long, Long, Int)] =
      SimOps.shardedProbeIndexSnapshot(queries, "vec_id", "embedding",
          sink, k = 3, nprobe = 10, refine = 8) {
        _.select($"query_id".cast("long"), $"neighbor_id".cast("long"),
          $"rank").as[(Long, Long, Int)].collect().toSet
      }
    val expected = probeOnce()
    assert(expected.nonEmpty)

    val rebuilderDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var rebuildErr: Option[Throwable] = None
    val rebuilder = new Thread(() => {
      try (0 until 6).foreach { i =>
        // alternate the coarse quantizer width: generations differ in
        // bytes (centroids AND list routes) while staying result-
        // equivalent under an all-lists probe
        graft.ops.SimOps.buildIvfPqIndex(slice0, "vec_id", "embedding",
          shard0, nlist = if (i % 2 == 0) 4 else 2, m = 4, ksub = 4,
          coarseIters = 1, storeSq8 = true)
      } catch { case t: Throwable => rebuildErr = Some(t) }
      finally rebuilderDone.set(true)
    }, "graft-shard-rebuilder")

    @volatile var probeErr: Option[Throwable] = None
    var rounds = 0
    val prober = new Thread(() => {
      try while (!rebuilderDone.get()) {
        val got = probeOnce()
        assert(got == expected,
          s"probe under rebuild storm deviated from the stable result: " +
            s"extra=${(got -- expected).take(3)} missing=${(expected -- got).take(3)}")
        rounds += 1
      } catch { case t: Throwable => probeErr = Some(t) }
    }, "graft-shard-prober")

    rebuilder.start(); prober.start()
    rebuilder.join(300000); prober.join(300000)
    assert(!rebuilder.isAlive && !prober.isAlive, "threads failed to finish")
    rebuildErr.foreach(t => fail(s"rebuilder died: $t", t))
    probeErr.foreach(t => fail(s"prober died: $t", t))
    assert(rounds > 0, "the prober never completed a round under the storm")
    // and the post-storm stable probe still serves the same answer
    assert(probeOnce() == expected)
  }
}
