package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sink.UpsertSink

/** Right-to-erasure over the persisted store groups: retracting ids
  * removes them from EVERY member table in one group delete, later
  * probes can never surface them as candidates, and untouched
  * documents' pairs are unaffected.
  */
class StoreRetractSpec extends SparkSpec {

  import spark.implicits._

  // digits tokenize OUT under the [a-z]+ tokenizer, so seeds encode as
  // letters — every doc gets a genuinely distinct token stream
  private def letters(n: Long): String =
    n.toString.map(c => ('a' + (c - '0')).toChar).mkString
  private def text(seed: Long): String =
    (0 until 12).map(i => s"w${letters(seed)}${letters(i)}").mkString(" ")

  test("minhashStoreRetract: erased docs vanish from both tables and all probes") {
    val sink = new UpsertSink(spark,
      Files.createTempDirectory("graft_retract_mh").toString, numBuckets = 4)
    // archive: 20 docs; batch doc 101 dups archive doc 3, 102 dups doc 7
    val archive = (1L to 20L).map(i => (i, text(i))).toDF("doc_id", "text")
    TextOps.minhashStoreBuild(archive, "doc_id", "text", sink,
      n = 3, k = 32, bands = 8)
    val batch = Seq((101L, text(3)), (102L, text(7))).toDF("doc_id", "text")
    val before = TextOps.minhashStoreProbe(batch, "doc_id", "text", sink,
        threshold = 0.9, n = 3, k = 32, bands = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(before == Set((3L, 101L), (7L, 102L)), s"fixture broken: $before")
    // erase doc 3 (and an absent id — no-op)
    TextOps.minhashStoreRetract(Seq(3L, 999L).toDF("doc_id"), "doc_id", sink)
    assert(sink.read("neardup_bands").filter($"doc_id" === 3L).isEmpty)
    assert(sink.read("neardup_shingles").filter($"doc_id" === 3L).isEmpty)
    val after = TextOps.minhashStoreProbe(batch, "doc_id", "text", sink,
        threshold = 0.9, n = 3, k = 32, bands = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(after == Set((7L, 102L)),
      s"erased doc still probes (or bystander lost): $after")
    // the other 19 docs' state is intact
    assert(sink.read("neardup_shingles").count() == 19)
  }

  test("embLshStoreRetract: erased vectors vanish from postings and vectors") {
    val sink = new UpsertSink(spark,
      Files.createTempDirectory("graft_retract_emb").toString, numBuckets = 4)
    // pseudo-random components (a sin(seed*31+i) family planted an
    // accidental 0.999-cosine pair at seeds 3 vs 18 — phase shift
    // nearly a 2-pi multiple); hashing spreads pairwise cosines near 0
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i =>
        ((((seed * 31L + i) * 2654435761L) % 1000L) / 1000.0f) - 0.5f)
    val archive = (1 to 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    SimOps.embLshStoreBuild(archive, "vec_id", "embedding", sink,
      planes = 4, tables = 8, dim = 16)
    val batch = Seq((101L, vec(3)), (102L, vec(7)))
      .toDF("vec_id", "embedding")
    val before = SimOps.embLshStoreProbe(batch, "vec_id", "embedding",
        sink, threshold = 0.999, planes = 4, tables = 8, dim = 16)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(before == Set((3L, 101L), (7L, 102L)), s"fixture broken: $before")
    SimOps.embLshStoreRetract(Seq(3L).toDF("vec_id"), "vec_id", sink)
    assert(sink.read("embdup_sigs").filter($"id" === 3L).isEmpty)
    assert(sink.read("embdup_vecs").filter($"id" === 3L).isEmpty)
    val after = SimOps.embLshStoreProbe(batch, "vec_id", "embedding",
        sink, threshold = 0.999, planes = 4, tables = 8, dim = 16)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(after == Set((7L, 102L)), s"retract broke the probe: $after")
    assert(sink.read("embdup_vecs").count() == 19)
  }

  // ---- count-store modalities: retract == fresh build on survivors ----

  private def freshSink(tag: String): UpsertSink = new UpsertSink(spark,
    Files.createTempDirectory(s"graft_retract_$tag").toString, numBuckets = 4)

  // binary columns (md5 window hashes, fingerprints) must compare by
  // CONTENT — Array[Byte] equality is by reference inside a Row.toSeq —
  // and columns compare NAME-SORTED: stores are name-addressed, and a
  // bucket rewrite may reorder the physical column layout
  private def rows(sink: UpsertSink, table: String): Set[Seq[Any]] = {
    val df = sink.read(table)
    df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq.map {
        case a: Array[Byte] => a.toSeq
        case x => x
      }).toSet
  }

  // segWords=4 fixture: every doc = one shared boilerplate segment + one
  // unique segment, so retraction exercises both the decrement-survive
  // and the drop-at-zero path in one store
  private val boiler = "alpha beta gamma delta"
  private def segText(seed: Long): String =
    s"$boiler u${letters(seed)}a u${letters(seed)}b u${letters(seed)}c u${letters(seed)}d"

  test("segmentStoreRetract: store equals a fresh build on the survivors") {
    val sink = freshSink("seg")
    val archive = (1L to 10L).map(i => (i, segText(i))).toDF("doc_id", "text")
    TextOps.segmentStoreBuild(archive, "doc_id", "text", sink, segWords = 4)
    // the erased doc's unique segment is a dup BEFORE erasure
    val batch = Seq((101L, segText(3))).toDF("doc_id", "text")
    val pre = TextOps.segmentStoreProbe(batch, "doc_id", "text", sink,
      segWords = 4).select("n_segs", "n_kept").as[(Int, Int)].head()
    assert(pre == ((2, 0)), s"fixture broken: both segments should dup: $pre")
    TextOps.segmentStoreRetract(
      archive.filter($"doc_id" === 3L), "doc_id", "text", sink, segWords = 4)
    // boilerplate decremented but survives; unique seg row physically gone
    val expected = freshSink("seg_expect")
    TextOps.segmentStoreBuild(archive.filter($"doc_id" =!= 3L),
      "doc_id", "text", expected, segWords = 4)
    assert(rows(sink, "segdedup_segs") == rows(expected, "segdedup_segs"),
      "retracted inventory != fresh build on survivors")
    val post = TextOps.segmentStoreProbe(batch, "doc_id", "text", sink,
      segWords = 4).select("n_segs", "n_kept").as[(Int, Int)].head()
    assert(post == ((2, 1)),
      s"unique segment must stop dup-ing after erasure (boiler still dups): $post")
  }

  test("substrStoreRetract: store equals a fresh build on the survivors") {
    val sink = freshSink("sub")
    // 8 tokens/doc, minTokens=5: shared 5-token prefix window + unique tail
    def subText(seed: Long): String =
      s"one two three four five t${letters(seed)}a t${letters(seed)}b t${letters(seed)}c"
    val archive = (1L to 10L).map(i => (i, subText(i))).toDF("doc_id", "text")
    TextOps.substrStoreBuild(archive, "doc_id", "text", sink, minTokens = 5)
    TextOps.substrStoreRetract(
      archive.filter($"doc_id" === 3L), "doc_id", "text", sink, minTokens = 5)
    val expected = freshSink("sub_expect")
    TextOps.substrStoreBuild(archive.filter($"doc_id" =!= 3L),
      "doc_id", "text", expected, minTokens = 5)
    assert(rows(sink, "substr_windows") == rows(expected, "substr_windows"),
      "retracted window inventory != fresh build on survivors")
    // doc 3's unique windows no longer dup; the shared prefix still does
    val post = TextOps.substrStoreProbe(
        Seq((101L, subText(3))).toDF("doc_id", "text"),
        "doc_id", "text", sink, minTokens = 5)
      .select("n_tokens", "n_removed").as[(Int, Int)].head()
    assert(post._1 == 8 && post._2 < 8 && post._2 > 0,
      s"expected partial (shared-prefix-only) removal after erasure: $post")
  }

  test("fingerprintStoreRetract: last holder removes the fp, shared fp survives") {
    val sink = freshSink("fp")
    // docs 1 and 2 share identical content; doc 3 unique
    val archive = Seq((1L, "same same text"), (2L, "same same text"),
      (3L, "other unique text")).toDF("doc_id", "text")
    TextOps.fingerprintStoreBuild(archive, "doc_id", "text", sink)
    assert(sink.read("fingerprint_store").count() == 2)
    // erase doc 1: the shared fp survives (doc 2 still holds it)
    TextOps.fingerprintStoreRetract(archive.filter($"doc_id" === 1L),
      "doc_id", "text", sink)
    val probe1 = TextOps.fingerprintStoreProbe(
        Seq((101L, "same same text"), (102L, "other unique text"))
          .toDF("doc_id", "text"), "doc_id", "text", sink)
      .as[(Long, Int)].collect().toMap
    assert(probe1 == Map(101L -> 1, 102L -> 1), s"shared fp lost: $probe1")
    // erase docs 2 and 3: both fps reach zero and are physically
    // removed — the store is TRUNCATEd (fileless; direct read fails by
    // the documented delete-all contract)
    TextOps.fingerprintStoreRetract(archive.filter($"doc_id" > 1L),
      "doc_id", "text", sink)
    intercept[org.apache.spark.sql.AnalysisException] {
      sink.read("fingerprint_store").collect()
    }
    // cross-check the survivor state after a single-doc erasure
    val sink2 = freshSink("fp2")
    TextOps.fingerprintStoreBuild(archive, "doc_id", "text", sink2)
    TextOps.fingerprintStoreRetract(archive.filter($"doc_id" === 1L),
      "doc_id", "text", sink2)
    val expected2 = freshSink("fp2_expect")
    TextOps.fingerprintStoreBuild(archive.filter($"doc_id" =!= 1L),
      "doc_id", "text", expected2)
    assert(rows(sink2, "fingerprint_store") ==
      rows(expected2, "fingerprint_store"))
  }

  test("substrDeltaRetractBatches: a batch's contribution erases exactly and idempotently") {
    val sink = freshSink("delta")
    def subText(seed: Long): String =
      s"one two three four five t${letters(seed)}a t${letters(seed)}b t${letters(seed)}c"
    val archive = (1L to 6L).map(i => (i, subText(i))).toDF("doc_id", "text")
    TextOps.substrDeltaBuild(archive, "doc_id", "text", sink, minTokens = 5)
    val b1 = Seq((101L, subText(101L))).toDF("doc_id", "text")
    val b2 = Seq((102L, subText(102L))).toDF("doc_id", "text")
    TextOps.substrDeltaAdmit(b1, "doc_id", "text", sink, batchId = 1L,
      minTokens = 5)
    TextOps.substrDeltaAdmit(b2, "doc_id", "text", sink, batchId = 2L,
      minTokens = 5)
    TextOps.substrDeltaRetractBatches(sink, Seq(1L))
    val expected = freshSink("delta_expect")
    TextOps.substrDeltaBuild(archive, "doc_id", "text", expected,
      minTokens = 5)
    TextOps.substrDeltaAdmit(b2, "doc_id", "text", expected, batchId = 2L,
      minTokens = 5)
    assert(rows(sink, "substr_windows_delta") ==
      rows(expected, "substr_windows_delta"),
      "delta store after batch retraction != archive + surviving batch")
    // idempotent in the erase direction
    TextOps.substrDeltaRetractBatches(sink, Seq(1L))
    assert(rows(sink, "substr_windows_delta") ==
      rows(expected, "substr_windows_delta"))
    // the compacted archive row is not batch-retractable
    intercept[IllegalArgumentException] {
      TextOps.substrDeltaRetractBatches(sink, Seq(0L))
    }
  }

  test("selectionStoreRetract: policy equals a fresh fit without the subjects") {
    val sink = freshSink("sel")
    val archive = (1L to 20L).map(i => (i, segText(i))).toDF("doc_id", "text")
    val target = archive.filter($"doc_id" % 5 === 0)
    SelectOps.selectionStoreBuild(archive, target, "doc_id", "text", sink,
      buckets = 32)
    // subjects: doc 5 (target member) and doc 3 (raw pool)
    SelectOps.selectionStoreRetract(
      archive.filter($"doc_id" === 5L), archive.filter($"doc_id" === 3L),
      "text", sink)
    val expected = freshSink("sel_expect")
    SelectOps.selectionStoreBuild(
      archive.filter($"doc_id" =!= 5L && $"doc_id" =!= 3L),
      target.filter($"doc_id" =!= 5L), "doc_id", "text", expected,
      buckets = 32)
    assert(rows(sink, "dsir_affinity") == rows(expected, "dsir_affinity"),
      "retracted policy != fresh fit without the subjects")
    // and the derived scores agree bit-for-bit
    val batch = (201L to 205L).map(i => (i, segText(i))).toDF("doc_id", "text")
    val got = SelectOps.selectionStoreScore(batch, "doc_id", "text", sink)
      .collect().map(_.toSeq).toSet
    val want = SelectOps.selectionStoreScore(batch, "doc_id", "text",
      expected).collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("fingerprintStoreAdmit: cumulative exact-dedup, admit-then-retract round-trips") {
    val sink = freshSink("fpadm")
    val archive = (1L to 10L).map(i => (i, segText(i))).toDF("doc_id", "text")
    TextOps.fingerprintStoreBuild(archive, "doc_id", "text", sink)
    val b1 = Seq((101L, segText(101L)), (102L, segText(3L)))
      .toDF("doc_id", "text")
    val probe1 = TextOps.fingerprintStoreAdmit(b1, "doc_id", "text", sink)
      .as[(Long, Int)].collect().toMap
    // the probe is PRE-admission: 102 dups archive doc 3, 101 is new
    assert(probe1 == Map(101L -> 0, 102L -> 1), s"pre-admit flags: $probe1")
    // day 2: a dup of day-1's NEW doc is now flagged — cumulative
    val probe2 = TextOps.fingerprintStoreProbe(
        Seq((201L, segText(101L))).toDF("doc_id", "text"),
        "doc_id", "text", sink)
      .as[(Long, Int)].collect().toMap
    assert(probe2 == Map(201L -> 1), s"cumulative admission lost day 1: $probe2")
    // admit-then-retract returns the store to the archive-only state
    TextOps.fingerprintStoreRetract(b1, "doc_id", "text", sink)
    val expected = freshSink("fpadm_expect")
    TextOps.fingerprintStoreBuild(archive, "doc_id", "text", expected)
    assert(rows(sink, "fingerprint_store") ==
      rows(expected, "fingerprint_store"),
      "admit-then-retract is not the identity on the store")
  }

  test("selectionStoreAdmitRaw: folded policy equals a fresh fit on the grown pool") {
    val sink = freshSink("seladm")
    val archive = (1L to 20L).map(i => (i, segText(i))).toDF("doc_id", "text")
    val target = archive.filter($"doc_id" % 5 === 0)
    SelectOps.selectionStoreBuild(archive, target, "doc_id", "text", sink,
      buckets = 32)
    val batch = (201L to 210L).map(i => (i, segText(i))).toDF("doc_id", "text")
    SelectOps.selectionStoreAdmitRaw(batch, "text", sink)
    val expected = freshSink("seladm_expect")
    SelectOps.selectionStoreBuild(archive.unionByName(batch), target,
      "doc_id", "text", expected, buckets = 32)
    assert(rows(sink, "dsir_affinity") == rows(expected, "dsir_affinity"),
      "folded policy != fresh fit on archive UNION batch")
    // and scoring agrees bit-for-bit through the fold
    val probeB = (301L to 303L).map(i => (i, segText(i))).toDF("doc_id", "text")
    assert(
      SelectOps.selectionStoreScore(probeB, "doc_id", "text", sink)
        .collect().map(_.toSeq).toSet ==
      SelectOps.selectionStoreScore(probeB, "doc_id", "text", expected)
        .collect().map(_.toSeq).toSet)
  }

  test("retract on a fully-erased (fileless) store no-ops instead of crashing") {
    // erasing EVERY row TRUNCATEs a table (fileless dir, no schema to
    // read) — a second sweep/retract must no-op, not crash deriving
    // keys from a schema-less scan (round-13 advice #3)
    val sink = new UpsertSink(spark,
      Files.createTempDirectory("graft_retract_refileless").toString,
      numBuckets = 4)
    val archive = (1L to 5L).map(i => (i, text(i))).toDF("doc_id", "text")
    TextOps.minhashStoreBuild(archive, "doc_id", "text", sink,
      n = 3, k = 32, bands = 8)
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i =>
        ((((seed * 31L + i) * 2654435761L) % 1000L) / 1000.0f) - 0.5f)
    val vecs = (1 to 5).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    SimOps.embLshStoreBuild(vecs, "vec_id", "embedding", sink,
      planes = 4, tables = 8, dim = 16)
    val all = (1L to 5L).toDF("doc_id")
    TextOps.minhashStoreRetract(all, "doc_id", sink)
    SimOps.embLshStoreRetract(all.select($"doc_id".as("vec_id")),
      "vec_id", sink)
    // every member table is now fileless; the stores still exist()
    for (t <- Seq("neardup_bands", "neardup_shingles",
        "embdup_sigs", "embdup_vecs")) {
      assert(sink.exists(t) && !sink.hasData(t), s"$t not TRUNCATEd")
    }
    // the second retract: derives nothing, deletes nothing, throws nothing
    TextOps.minhashStoreRetract(all, "doc_id", sink)
    SimOps.embLshStoreRetract(all.select($"doc_id".as("vec_id")),
      "vec_id", sink)
    // selection store: TRUNCATE it directly (delete every bucket row),
    // then retract — same no-op contract
    SelectOps.selectionStoreBuild(archive, archive.filter($"doc_id" === 1L),
      "doc_id", "text", sink, buckets = 16)
    sink.delete("dsir_affinity",
      spark.range(16).select($"id".cast("int").as("bucket")), Seq("bucket"))
    assert(sink.exists("dsir_affinity") && !sink.hasData("dsir_affinity"))
    SelectOps.selectionStoreRetract(archive.limit(0), archive, "text", sink)
  }

  test("EraseOps.eraseSubjects: one sweep erases every modality, exactly") {
    val sink = freshSink("sweep")
    val archive = (1L to 20L).map(i => (i, segText(i))).toDF("doc_id", "text")
    val target = archive.filter($"doc_id" % 5 === 0)
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i =>
        ((((seed * 31L + i) * 2654435761L) % 1000L) / 1000.0f) - 0.5f)
    val vecs = (1 to 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    TextOps.fingerprintStoreBuild(archive, "doc_id", "text", sink)
    TextOps.segmentStoreBuild(archive, "doc_id", "text", sink, segWords = 4)
    TextOps.minhashStoreBuild(archive, "doc_id", "text", sink,
      n = 3, k = 32, bands = 8)
    TextOps.substrStoreBuild(archive, "doc_id", "text", sink, minTokens = 5)
    SelectOps.selectionStoreBuild(archive, target, "doc_id", "text", sink,
      buckets = 32)
    SimOps.embLshStoreBuild(vecs, "vec_id", "embedding", sink,
      planes = 4, tables = 8, dim = 16)
    // subjects: 5 (target member) and 3 (raw pool)
    val subjects = archive.filter($"doc_id" === 5L || $"doc_id" === 3L)
    val report = EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "sweep-a",
      fromTarget = Some(subjects.filter($"doc_id" % 5 === 0)),
      fromRaw = Some(subjects.filter($"doc_id" % 5 =!= 0)),
      vecIds = Some(subjects.select($"doc_id".as("vec_id"))),
      segWords = 4, minTokens = 5)
    val erased = report.erased
    assert(erased.toSet == Set("fingerprint_store", "segdedup_segs",
      "neardup_bands", "neardup_shingles", "substr_windows",
      "dsir_affinity", "embdup_sigs", "embdup_vecs"))
    assert(report.excluded.isEmpty && report.deltaBatches.isEmpty &&
      report.subjects == 2L)
    // every store equals a fresh build on the survivors
    val expected = freshSink("sweep_expect")
    val survivors = archive.filter($"doc_id" =!= 5L && $"doc_id" =!= 3L)
    TextOps.fingerprintStoreBuild(survivors, "doc_id", "text", expected)
    TextOps.segmentStoreBuild(survivors, "doc_id", "text", expected,
      segWords = 4)
    TextOps.minhashStoreBuild(survivors, "doc_id", "text", expected,
      n = 3, k = 32, bands = 8)
    TextOps.substrStoreBuild(survivors, "doc_id", "text", expected,
      minTokens = 5)
    SelectOps.selectionStoreBuild(survivors, target.filter($"doc_id" =!= 5L),
      "doc_id", "text", expected, buckets = 32)
    SimOps.embLshStoreBuild(
      vecs.filter($"vec_id" =!= 5L && $"vec_id" =!= 3L),
      "vec_id", "embedding", expected, planes = 4, tables = 8, dim = 16)
    for (tbl <- erased)
      assert(rows(sink, tbl) == rows(expected, tbl),
        s"$tbl after sweep != fresh build on survivors")
    // a sweep over an empty sink is a no-op
    assert(EraseOps.eraseSubjects(subjects, "doc_id", "text",
      freshSink("sweep_empty"), sweepId = "sweep-b").erased.isEmpty)
  }

  test("eraseSubjects refuses silent partial erasure and surfaces exclusions") {
    // round-13 verdict #1: when the selection store exists, omitted
    // fromTarget/fromRaw used to default to limit(0) — the policy
    // histogram retracted NOTHING while the sweep reported the table
    // swept. Now: fail loudly before touching anything.
    val sink = freshSink("sweep_refuse")
    val archive = (1L to 10L).map(i => (i, segText(i))).toDF("doc_id", "text")
    SelectOps.selectionStoreBuild(archive, archive.filter($"doc_id" === 1L),
      "doc_id", "text", sink, buckets = 16)
    val subjects = archive.filter($"doc_id" === 3L)
    val before = rows(sink, "dsir_affinity")
    val ex = intercept[IllegalArgumentException] {
      EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
        sweepId = "sweep-r1")
    }
    assert(ex.getMessage.contains("dsir_affinity"))
    assert(rows(sink, "dsir_affinity") == before, "refusal touched the store")
    // the embedding store demands vecIds the same way (round-13 advice:
    // the vec_id == doc_id fallback silently deleted nothing — or the
    // wrong vectors — under any other id mapping)
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(i =>
        ((((seed * 31L + i) * 2654435761L) % 1000L) / 1000.0f) - 0.5f)
    SimOps.embLshStoreBuild(
      (1 to 10).map(i => (i.toLong + 7000L, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", sink, planes = 4, tables = 8, dim = 8)
    val ex2 = intercept[IllegalArgumentException] {
      EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
        sweepId = "sweep-r2",
        fromTarget = Some(subjects.limit(0)), fromRaw = Some(subjects))
    }
    assert(ex2.getMessage.contains("embdup_sigs"))
    // the delta store is present-but-excluded: reported with resolved
    // containing batches, never listed as erased
    TextOps.substrDeltaBuild(archive.filter($"doc_id" <= 5L), "doc_id",
      "text", sink, minTokens = 5)
    TextOps.substrDeltaAdmit(archive.filter($"doc_id" > 5L), "doc_id",
      "text", sink, batchId = 7L, minTokens = 5)
    val report = EraseOps.eraseSubjects(
      archive.filter($"doc_id" === 6L), "doc_id", "text", sink,
      sweepId = "sweep-r3",
      fromTarget = Some(subjects.limit(0)),
      fromRaw = Some(archive.filter($"doc_id" === 6L)),
      vecIds = Some(subjects.limit(0).select($"doc_id".as("vec_id"))),
      minTokens = 5)
    assert(report.excluded.keySet == Set("substr_windows_delta"))
    assert(!report.erased.contains("substr_windows_delta"))
    assert(report.deltaBatches == Seq(7L),
      s"doc 6 was admitted in batch 7: ${report.deltaBatches}")
    assert(report.excluded("substr_windows_delta").contains("7"))
  }

  test("eraseSubjects writes the ledger receipt; replay leaves it untouched") {
    val sink = freshSink("sweep_ledger")
    val archive = (1L to 12L).map(i => (i, segText(i))).toDF("doc_id", "text")
    TextOps.fingerprintStoreBuild(archive, "doc_id", "text", sink)
    TextOps.segmentStoreBuild(archive, "doc_id", "text", sink, segWords = 4)
    val subjects = archive.filter($"doc_id" <= 2L)
    val report = EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "sweep-l1", segWords = 4)
    assert(sink.exists(EraseOps.LedgerTable))
    val led = sink.read(EraseOps.LedgerTable)
      .as[(String, String, String, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> r).toMap
    assert(led.keySet == Set("fingerprint_store", "segdedup_segs"))
    led.values.foreach { case (sw, t, action, subj, removed, vb, va) =>
      assert(sw == "sweep-l1" && action == "erased" && subj == 2L)
      assert(removed > 0L, s"$t: receipt shows nothing removed")
      assert(vb != va, s"$t: version fingerprint did not move")
    }
    // a replay of the same sweep: data converges via the erasure journal
    // (no double decrement), and the ORIGINAL receipt stands
    val before = rows(sink, "fingerprint_store")
    val ledBefore = rows(sink, EraseOps.LedgerTable)
    EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "sweep-l1", segWords = 4)
    assert(rows(sink, "fingerprint_store") == before,
      "replayed sweep double-decremented the fingerprint store")
    assert(rows(sink, EraseOps.LedgerTable) == ledBefore,
      "replayed sweep rewrote the ledger receipt")
    assert(report.erased.toSet == Set("fingerprint_store", "segdedup_segs"))
  }

  test("count-store admits with an admitId: replayed admission == single admission") {
    // the admit journal generalizes the delta layout's exactly-once
    // discipline to the SUMMED count stores: a crashed daily admit
    // replayed with its batch id cannot double-fold counts (which
    // would flag future probes as duplicates of documents admitted
    // once). All four count-fold modalities in one pass.
    val real = freshSink("admitid")
    val once = freshSink("admitid_once")
    val archive = (1L to 12L).map(i => (i, segText(i))).toDF("doc_id", "text")
    val batch = (101L to 104L).map(i => (i, segText(i))).toDF("doc_id", "text")
    for (s <- Seq(real, once)) {
      TextOps.fingerprintStoreBuild(archive, "doc_id", "text", s)
      TextOps.segmentStoreBuild(archive, "doc_id", "text", s, segWords = 4)
      TextOps.substrStoreBuild(archive, "doc_id", "text", s, minTokens = 5)
      SelectOps.selectionStoreBuild(archive,
        archive.filter($"doc_id" === 1L), "doc_id", "text", s, buckets = 16)
    }
    def admitAll(s: UpsertSink, id: Option[String]): Unit = {
      TextOps.fingerprintStoreAdmit(batch, "doc_id", "text", s, admitId = id)
      TextOps.segmentStoreAdmit(batch, "doc_id", "text", s, segWords = 4,
        admitId = id)
      TextOps.substrStoreAdmit(batch, "doc_id", "text", s, minTokens = 5,
        admitId = id)
      SelectOps.selectionStoreAdmitRaw(batch, "text", s, admitId = id)
    }
    admitAll(once, None)
    admitAll(real, Some("day-001"))
    admitAll(real, Some("day-001")) // the crash-replay: must be a no-op
    for (t <- Seq("fingerprint_store", "segdedup_segs", "substr_windows",
        "dsir_affinity"))
      assert(rows(real, t) == rows(once, t),
        s"$t: replayed admission diverged from a single admit")
  }

  test("minhash and LSH admits with an admitId: a re-delivered admit keeps an erased document erased") {
    val sink = freshSink("admitid_postings")
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i =>
        ((((seed * 31L + i) * 2654435761L) % 1000L) / 1000.0f) - 0.5f)
    TextOps.minhashStoreBuild((1L to 10L).map(i => (i, text(i))).toDF("doc_id", "text"),
      "doc_id", "text", sink, n = 3, k = 32, bands = 8)
    SimOps.embLshStoreBuild((1 to 10).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", sink, planes = 4, tables = 8, dim = 16)
    val docs = Seq((101L, text(101)), (102L, text(102))).toDF("doc_id", "text")
    val vecs = Seq((101L, vec(101)), (102L, vec(102))).toDF("vec_id", "embedding")
    def admit(): Unit = {
      TextOps.minhashStoreAdmit(docs, "doc_id", "text", sink, n = 3, k = 32,
        bands = 8, admitId = Some("batch-7")).collect()
      SimOps.embLshStoreAdmit(vecs, "vec_id", "embedding", sink, threshold = 0.999,
        planes = 4, tables = 8, dim = 16, admitId = Some("batch-7")).collect()
    }
    admit()
    TextOps.minhashStoreRetract(Seq(101L).toDF("doc_id"), "doc_id", sink)
    SimOps.embLshStoreRetract(Seq(101L).toDF("vec_id"), "vec_id", sink)
    val after = Seq("neardup_bands", "neardup_shingles", "embdup_sigs", "embdup_vecs")
      .map(t => t -> rows(sink, t))
    admit() // the re-delivery: must change no table
    for ((t, before) <- after)
      assert(rows(sink, t) == before, s"$t: a re-delivered admit changed the table")
    assert(sink.read("neardup_shingles").filter($"doc_id" === 101L).isEmpty &&
      sink.read("neardup_bands").filter($"doc_id" === 101L).isEmpty,
      "the re-delivered admit re-inserted an erased document")
    assert(sink.read("embdup_vecs").filter($"id" === 101L).isEmpty &&
      sink.read("embdup_sigs").filter($"id" === 101L).isEmpty,
      "the re-delivered admit re-inserted an erased vector")
    assert(sink.read("neardup_shingles").filter($"doc_id" === 102L).count() == 1 &&
      sink.read("embdup_vecs").filter($"id" === 102L).count() == 1)
  }

  test("eraseSubjects reaches the ANN serving layer: single + sharded index") {
    val sink = freshSink("sweep_ann")
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i =>
        ((((seed * 31L + i) * 2654435761L) % 1000L) / 1000.0f) - 0.5f)
    val vecs = (1 to 24).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    SimOps.buildIvfPqIndex(vecs, "vec_id", "embedding", sink,
      nlist = 2, m = 4, ksub = 4, coarseIters = 1, storeSq8 = true).collect()
    SimOps.buildShardedIvfPqIndex(vecs, "vec_id", "embedding", sink,
      shards = 2, nlist = 2, m = 4, ksub = 4, coarseIters = 1)
    val docs = (1 to 24).map(i => (i.toLong, segText(i)))
      .toDF("doc_id", "text")
    val subjects = docs.filter($"doc_id" === 4L || $"doc_id" === 9L)
    // vecIds is REQUIRED the moment an ANN index is present — a sweep
    // that erases the near-dup stores but leaves the subjects' PQ
    // codes serving is the silent partial erasure this API refuses
    val ex = intercept[IllegalArgumentException] {
      EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
        sweepId = "ann-s0")
    }
    assert(ex.getMessage.contains("ann_codes"))
    val subjectVecs = subjects.select($"doc_id".as("vec_id"))
    val homes = subjectVecs
      .select(SimOps.shardOf("vec_id", 2).as("s")).as[Long].collect().toSet
    val v0 = SimOps.shardedIndexVersions(spark, sink)
    val report = EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "ann-s1", vecIds = Some(subjectVecs))
    val shardMembers = homes.map(h => f"ann_shard_$h%04d")
    assert(report.erased.toSet ==
      Set("ann_codes", "ann_vecs8") ++ shardMembers)
    // membership: gone from the single index's both tables
    for (tbl <- Seq("ann_codes", "ann_vecs8"))
      assert(sink.read(tbl).filter($"id" === 4L || $"id" === 9L)
        .count() == 0, s"$tbl still holds an erased id")
    // the sharded probe serves survivors only; unrouted shards byte-pin
    val probed = SimOps.shardedProbeIndex(vecs, vecs, "vec_id",
      "embedding", sink, 3)
    assert(probed.filter($"neighbor_id" === 4L || $"neighbor_id" === 9L)
      .count() == 0, "sharded probe returned an erased id")
    val v1 = SimOps.shardedIndexVersions(spark, sink)
    for (s <- v0.keySet if !homes.contains(s.toLong))
      assert(v1(s) == v0(s), s"unrouted shard $s's bytes moved")
    // ledger receipts for every ANN member, versions bracketing the move
    val led = sink.read(EraseOps.LedgerTable)
      .filter($"sweep_id" === "ann-s1")
      .as[(String, String, String, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> r).toMap
    assert(led.keySet == Set("ann_codes", "ann_vecs8") ++ shardMembers)
    led.values.foreach { case (_, t, action, subj, removed, vb, va) =>
      assert(action == "erased" && subj == 2L && removed > 0L, s"$t receipt")
      assert(vb != va, s"$t: version fingerprint did not move")
    }
    // replay of the whole sweep: parent journal + per-shard journals
    // make it byte-free, and the receipt stands
    val ledBefore = rows(sink, EraseOps.LedgerTable)
    val codesV = sink.version("ann_codes")
    EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "ann-s1", vecIds = Some(subjectVecs))
    assert(sink.version("ann_codes") == codesV,
      "replayed sweep moved the single index's bytes")
    assert(SimOps.shardedIndexVersions(spark, sink) == v1,
      "replayed sweep moved a shard's bytes")
    assert(rows(sink, EraseOps.LedgerTable) == ledBefore,
      "replayed sweep rewrote the ledger")
  }

  test("the GRAND sweep: every modality and serving layer erases in one call") {
    // the full family under one roof: six admission stores, the delta
    // store (excluded, batch-granularity), both ANN forms, and the
    // search index — one eraseSubjects call, one ledger receipt per
    // member, subjects gone from every layer
    val sink = freshSink("grand")
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i =>
        ((((seed * 31L + i) * 2654435761L) % 1000L) / 1000.0f) - 0.5f)
    val docs = (1L to 24L).map(i => (i, segText(i))).toDF("doc_id", "text")
    val vecs = (1 to 24).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val target = docs.filter($"doc_id" % 11 === 0)
    TextOps.fingerprintStoreBuild(docs, "doc_id", "text", sink)
    TextOps.segmentStoreBuild(docs, "doc_id", "text", sink, segWords = 4)
    TextOps.minhashStoreBuild(docs, "doc_id", "text", sink,
      n = 3, k = 32, bands = 8)
    TextOps.substrStoreBuild(docs, "doc_id", "text", sink, minTokens = 5)
    TextOps.substrDeltaBuild(docs, "doc_id", "text", sink, minTokens = 5)
    SelectOps.selectionStoreBuild(docs, target, "doc_id", "text", sink,
      buckets = 16)
    SimOps.embLshStoreBuild(vecs, "vec_id", "embedding", sink,
      planes = 4, tables = 8, dim = 16)
    SimOps.buildIvfPqIndex(vecs, "vec_id", "embedding", sink,
      nlist = 2, m = 4, ksub = 4, coarseIters = 1, storeSq8 = true).collect()
    SimOps.buildShardedIvfPqIndex(vecs, "vec_id", "embedding", sink,
      shards = 2, nlist = 2, m = 4, ksub = 4, coarseIters = 1)
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", sink)
    // subjects: 11 (a selection-target member) and 4 (raw pool)
    val subjects = docs.filter($"doc_id" === 4L || $"doc_id" === 11L)
    val subjectVecs = subjects.select($"doc_id".as("vec_id"))
    val homes = subjectVecs
      .select(SimOps.shardOf("vec_id", 2).as("s")).as[Long].collect().toSet
    val report = EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "grand-1",
      fromTarget = Some(subjects.filter($"doc_id" % 11 === 0)),
      fromRaw = Some(subjects.filter($"doc_id" % 11 =!= 0)),
      vecIds = Some(subjectVecs),
      segWords = 4, minTokens = 5)
    val parents = Set("fingerprint_store", "segdedup_segs",
      "neardup_bands", "neardup_shingles", "substr_windows",
      "bm25_postings", "bm25_doclens", "bm25_stats", "dsir_affinity",
      "embdup_sigs", "embdup_vecs", "ann_codes", "ann_vecs8")
    assert(report.erased.toSet ==
      parents ++ homes.map(h => f"ann_shard_$h%04d"),
      s"grand sweep member set: ${report.erased.sorted}")
    assert(report.excluded.keySet == Set("substr_windows_delta"))
    assert(report.subjects == 2L)
    // one durable receipt per member, erased AND excluded
    val led = sink.read(EraseOps.LedgerTable)
      .filter($"sweep_id" === "grand-1")
      .select("member_table").as[String].collect().toSet
    assert(led == report.erased.toSet + "substr_windows_delta")
    // subjects gone from a representative table of every layer class
    assert(sink.read("bm25_doclens")
      .filter($"doc_id" === 4L || $"doc_id" === 11L).count() == 0)
    assert(sink.read("ann_codes")
      .filter($"id" === 4L || $"id" === 11L).count() == 0)
    assert(sink.read("embdup_vecs")
      .filter($"id" === 4L || $"id" === 11L).count() == 0)
    assert(sink.read("segdedup_segs").count() > 0,
      "bystander inventory vanished with the subjects")
  }

  test("the erasure receipt survives the crash-recovery window (pending rows)") {
    // r14 verdict #2: a crash AFTER the data commit but BEFORE the
    // final ledger merge used to make the replayed receipt read
    // ver_before == ver_after (the replay could only see the already-
    // erased store) — the pending/final protocol persists the
    // pre-sweep bracketing evidence FIRST, so the recovery-path
    // receipt still proves bytes moved. Simulated by reconstructing
    // the exact crash state on disk: data erased + journal committed
    // + pending rows only (the final rows rolled back to their
    // pending form), then replaying the sweep.
    val sink = freshSink("crashwin")
    val archive = (1L to 12L).map(i => (i, segText(i))).toDF("doc_id", "text")
    TextOps.fingerprintStoreBuild(archive, "doc_id", "text", sink)
    TextOps.segmentStoreBuild(archive, "doc_id", "text", sink, segWords = 4)
    val subjects = archive.filter($"doc_id" <= 3L)
    EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "cw-1", segWords = 4)
    val finals = rows(sink, EraseOps.LedgerTable)
    assert(finals.nonEmpty)
    // roll the receipt back to its pending form: action -> 'pending',
    // ver_after -> 0, everything else (the pre-sweep evidence) intact —
    // byte-for-byte the state a crash between eraseMany and the final
    // merge leaves behind
    val pending = sink.read(EraseOps.LedgerTable)
      .filter($"sweep_id" === "cw-1")
      .withColumn("action", lit(EraseOps.LedgerPending))
      .withColumn("ver_after", lit(0L))
      .localCheckpoint(true)
    sink.merge(EraseOps.LedgerTable, pending,
      Seq("sweep_id", "member_table"), pkUnique = true)
    assert(rows(sink, EraseOps.LedgerTable) != finals, "fixture inert")
    // the replay (the documented recovery protocol): data converges as
    // journaled no-ops, and the receipt REBUILDS from the pending rows
    // — bit-identical to the uncrashed receipt, ver_changed included
    EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "cw-1", segWords = 4)
    assert(rows(sink, EraseOps.LedgerTable) == finals,
      "recovery-path receipt differs from the uncrashed receipt")
    sink.read(EraseOps.LedgerTable).filter($"action" === "erased")
      .collect().foreach { r =>
        assert(r.getAs[Long]("ver_before") != r.getAs[Long]("ver_after"),
          s"${r.getAs[String]("member_table")}: recovery receipt lost " +
            "its version bracket")
      }
  }

  test("ledger `removed` counts matched rows for delete members, not presented keys") {
    // r14 verdict #3: a subject re-derived with drifted shaping params
    // (or never admitted at all) must not inflate the receipt's one
    // quantitative column. PK-delete members count rows actually
    // present pre-sweep; count-decrement members record the requested
    // decrement (documented — clamping can make the physical
    // subtraction smaller)
    val sink = freshSink("matched")
    val docs = (1L to 10L).map(i => (i, segText(i))).toDF("doc_id", "text")
    TextOps.fingerprintStoreBuild(docs, "doc_id", "text", sink)
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", sink)
    // subjects: two real docs + one PHANTOM the stores never admitted
    val subjects = docs.filter($"doc_id" <= 2L)
      .unionByName(Seq((99L, segText(99L))).toDF("doc_id", "text"))
    EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "match-1", segWords = 4)
    val led = sink.read(EraseOps.LedgerTable)
      .filter($"sweep_id" === "match-1").collect()
      .map(r => r.getAs[String]("member_table") ->
        r.getAs[Long]("removed")).toMap
    // doclens: one row per REAL subject — the phantom's key matched
    // nothing and must not count
    assert(led("bm25_doclens") == 2L,
      s"doclens removed=${led("bm25_doclens")}, want 2 (phantom excluded)")
    // postings: the real subjects' (w, doc_id) keys only — the build
    // indexed every real pair, so matched == the real subjects'
    // distinct (w, doc_id) count; an inflated figure would add the
    // phantom's distinct terms on top
    val realPairs = docs.filter($"doc_id" <= 2L)
      .select($"doc_id", explode(TextOps.tokens($"text")).as("w"))
      .distinct().count()
    assert(led("bm25_postings") == realPairs,
      s"postings removed=${led("bm25_postings")}, want $realPairs " +
        "(phantom's terms excluded)")
    // the count member records the REQUESTED decrement incl. the
    // phantom's fingerprint (documented semantics for count shapes)
    assert(led("fingerprint_store") == 3L,
      s"fingerprint removed=${led("fingerprint_store")}, want 3 requested")
  }

  test("a PARTIAL pending set (crash mid-pending-write) still yields the exact receipt") {
    // the protocol's invariant: pending rows write BEFORE the data
    // commit, so a partial pending set can only mean nothing was
    // erased yet — the replay recovers the present members from their
    // pending rows and computes the missing ones fresh against the
    // still-intact store, landing the same receipt an uncrashed sweep
    // writes
    val uncrashed = freshSink("partpend_ref")
    val crashed = freshSink("partpend")
    val archive = (1L to 12L).map(i => (i, segText(i))).toDF("doc_id", "text")
    for (s <- Seq(uncrashed, crashed)) {
      TextOps.fingerprintStoreBuild(archive, "doc_id", "text", s)
      TextOps.segmentStoreBuild(archive, "doc_id", "text", s, segWords = 4)
    }
    val subjects = archive.filter($"doc_id" <= 3L)
    EraseOps.eraseSubjects(subjects, "doc_id", "text", uncrashed,
      sweepId = "pp-1", segWords = 4)
    val want = rows(uncrashed, EraseOps.LedgerTable)
    // the crash: exactly ONE member's pending row landed, nothing
    // erased — constructed from the uncrashed sink's own pending form
    // so the fixture can never drift from the production row shape
    val partial = uncrashed.read(EraseOps.LedgerTable)
      .filter($"member_table" === "fingerprint_store")
      .withColumn("action", lit(EraseOps.LedgerPending))
      .withColumn("ver_before",
        lit(crashed.version("fingerprint_store"))) // THIS sink's version
      .withColumn("ver_after", lit(0L))
      .localCheckpoint(true)
    crashed.merge(EraseOps.LedgerTable, partial,
      Seq("sweep_id", "member_table"), pkUnique = true)
    // the replay: fingerprint recovers from pending, the segment store
    // computes fresh (its data is intact — the crash preceded the
    // erase), and the sweep completes with the uncrashed receipt's
    // removed/action figures
    EraseOps.eraseSubjects(subjects, "doc_id", "text", crashed,
      sweepId = "pp-1", segWords = 4)
    def figures(s: UpsertSink): Set[(String, String, Long, Long)] =
      s.read(EraseOps.LedgerTable).collect().map(r =>
        (r.getAs[String]("member_table"), r.getAs[String]("action"),
          r.getAs[Long]("subjects"), r.getAs[Long]("removed"))).toSet
    assert(figures(crashed) == figures(uncrashed),
      s"partial-pending replay receipt diverged: ${figures(crashed)}")
    crashed.read(EraseOps.LedgerTable).collect().foreach { r =>
      assert(r.getAs[Long]("ver_before") != r.getAs[Long]("ver_after"),
        s"${r.getAs[String]("member_table")}: lost the version bracket")
    }
    assert(want.nonEmpty)
    // and the data itself converged to the uncrashed stores
    for (t <- Seq("fingerprint_store", "segdedup_segs"))
      assert(rows(crashed, t) == rows(uncrashed, t),
        s"$t diverged after the partial-pending replay")
  }

  test("serving layers restore bit-exactly on re-admit after a sweep (the q131 round trip)") {
    // the q131 amortization's correctness claim: sweep -> re-admit
    // returns every serving table to its pre-sweep CONTENT (versions
    // move — bytes rewrote — but the rows are the rows), because the
    // re-encoded codes are deterministic under the unchanged
    // quantizers and the stats fold adds back exactly what the sweep
    // subtracted
    val sink = freshSink("roundtrip")
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i =>
        ((((seed * 31L + i) * 2654435761L) % 1000L) / 1000.0f) - 0.5f)
    val docs = (1L to 20L).map(i => (i, segText(i))).toDF("doc_id", "text")
    val vecs = (1 to 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", sink)
    SimOps.buildShardedIvfPqIndex(vecs, "vec_id", "embedding", sink,
      shards = 2, nlist = 2, m = 4, ksub = 4, coarseIters = 1,
      storeSq8 = true)
    val serving = Seq("bm25_postings", "bm25_doclens", "bm25_stats")
    def shardRows(): Map[Int, Long] =
      SimOps.shardedIndexVersions(spark, sink).keys.map(s =>
        s -> 0L).toMap // presence only; content checked via the probe
    val before = serving.map(t => t -> rows(sink, t)).toMap
    val subjects = docs.filter($"doc_id" % 5 === 0)
    val subjectVecs = vecs.filter($"vec_id" % 5 === 0)
    EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "rt-1", vecIds = Some(subjectVecs.select("vec_id")))
    assert(rows(sink, "bm25_doclens") != before("bm25_doclens"),
      "sweep fixture inert")
    SearchOps.invertedIndexAdmit(subjects, "doc_id", "text", sink,
      admitId = Some("rt-1-readmit"))
    SimOps.shardedIndexAdd(subjectVecs, "vec_id", "embedding", sink)
    for (t <- serving)
      assert(rows(sink, t) == before(t),
        s"$t did not restore bit-exactly after the round trip")
    // the restored ANN index serves the same neighbors as a reference
    // index built fresh over the same vectors with the same params
    val ref = freshSink("roundtrip_ref")
    SimOps.buildShardedIvfPqIndex(vecs, "vec_id", "embedding", ref,
      shards = 2, nlist = 2, m = 4, ksub = 4, coarseIters = 1,
      storeSq8 = true)
    val q = vecs.filter($"vec_id" <= 2L)
    def served(s: UpsertSink): Set[(Long, Long, Int)] =
      SimOps.shardedProbeIndex(q, vecs, "vec_id", "embedding", s, 3,
          refineFromSq8 = true)
        .select($"query_id".cast("long"), $"neighbor_id".cast("long"),
          $"rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(served(sink) == served(ref),
      "restored sharded index served different neighbors than a fresh build")
    assert(shardRows().nonEmpty)
  }

  test("pendingRemovedOverlay applies once per table, even for multi-payload plans") {
    // r15 verdict #2 (What's wrong): the replay path's recovered
    // `removed` silently assumed one TableErase per member table — a
    // future plan emitting TWO payloads for one table would have
    // doubled the recovered figure on exactly the path the pending
    // protocol makes trustworthy. The overlay keys by DISTINCT table
    val pend = Map("t" -> ((3L, 42L, 7L)), "u" -> ((3L, 5L, 8L)))
    // the synthetic two-payloads-one-table plan shape
    assert(EraseOps.pendingRemovedOverlay(Seq("t", "t", "v"), pend)
      == Map("t" -> 42L),
      "two erase payloads for one table must recover its pending figure ONCE")
    assert(EraseOps.pendingRemovedOverlay(Seq("t", "u"), pend)
      == Map("t" -> 42L, "u" -> 5L))
    assert(EraseOps.pendingRemovedOverlay(Seq("v"), pend).isEmpty)
  }

  test("pendingSweeps surfaces stuck sweeps; finalized and replayed sweeps vanish") {
    val sink = freshSink("pendaudit")
    // missing ledger = no stuck sweeps, schema-stable empty frame
    // (auditors union across sinks)
    assert(EraseOps.pendingSweeps(sink).columns.toSeq ==
      Seq("sweep_id", "member_table", "subjects", "removed", "ver_before"))
    assert(EraseOps.pendingSweeps(sink).count() == 0)
    val archive = (1L to 12L).map(i => (i, segText(i))).toDF("doc_id", "text")
    TextOps.fingerprintStoreBuild(archive, "doc_id", "text", sink)
    TextOps.segmentStoreBuild(archive, "doc_id", "text", sink, segWords = 4)
    val subjects = archive.filter($"doc_id" <= 3L)
    EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "pa-1", segWords = 4)
    // a FINALIZED sweep is not stuck
    assert(EraseOps.pendingSweeps(sink).count() == 0,
      "a completed sweep's receipt read as stuck")
    // reconstruct the crash state on disk (the crash-window test's
    // convention): finals rolled back to their pending form = a sweep
    // that declared intent and died before its final receipt merge
    val pending = sink.read(EraseOps.LedgerTable)
      .filter($"sweep_id" === "pa-1")
      .withColumn("action", lit(EraseOps.LedgerPending))
      .withColumn("ver_after", lit(0L))
      .localCheckpoint(true)
    sink.merge(EraseOps.LedgerTable, pending,
      Seq("sweep_id", "member_table"), pkUnique = true)
    val stuck = EraseOps.pendingSweeps(sink)
      .select($"sweep_id", $"member_table", $"removed")
      .as[(String, String, Long)].collect().toSet
    assert(stuck.map(_._1) == Set("pa-1"), s"wrong stuck sweeps: $stuck")
    assert(stuck.map(_._2) == Set("fingerprint_store", "segdedup_segs"),
      s"stuck members wrong: $stuck")
    // the pending rows carry the pre-counted evidence, not zeros
    assert(stuck.forall(_._3 > 0L), s"stuck rows lost their figures: $stuck")
    // the documented remedy — replay under the same sweep id — clears it
    EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "pa-1", segWords = 4)
    assert(EraseOps.pendingSweeps(sink).count() == 0,
      "replayed sweep still reads as stuck")
  }
}
