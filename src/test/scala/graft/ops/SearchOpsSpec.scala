package graft.ops

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.sink.UpsertSink

/** Persisted BM25 inverted index: served scores must equal the direct
  * corpus-side scorer exactly, and the lifecycle (build/admit/erase)
  * must keep the index equal to a fresh build on the same world.
  */
class SearchOpsSpec extends SparkSpec {

  import spark.implicits._

  private val Terms = Seq("vector", "merge", "stream")

  private def freshSink(tag: String): UpsertSink = new UpsertSink(spark,
    Files.createTempDirectory(s"graft_search_$tag").toString,
    numBuckets = 8)

  private def rows(sink: UpsertSink, table: String): Set[Seq[Any]] =
    sink.read(table)
      .select(sink.read(table).columns.sorted.toIndexedSeq.map(col): _*)
      .collect().map(_.toSeq).toSet

  private def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.select(col("doc_id"), round(col("score"), 6).as("s"))
      .as[(Long, Double)].collect().toMap

  test("served scores equal the direct BM25 scorer exactly") {
    val docs = Tables.load(spark, sf, "documents")
    val sink = freshSink("parity")
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", sink)
    val served = scores(SearchOps.invertedIndexSearch(Terms, sink))
    val direct = scores(TextOps.bm25Scores(docs, "doc_id", "text", Terms))
    assert(served.nonEmpty && served == direct,
      s"served != direct: ${(served.toSet diff direct.toSet).take(3)} / " +
        s"${(direct.toSet diff served.toSet).take(3)}")
    // the serving plan never touches the corpus, and the query-term
    // filter reaches the posting scan as a pushed parquet predicate
    val plan = SearchOps.invertedIndexSearch(Terms, sink)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("Scan parquet")).toSeq
    assert(scans.forall(l => l.contains("bm25_postings") ||
      l.contains("bm25_doclens") || l.contains("bm25_stats")),
      s"search read beyond the index tables:\n${scans.mkString("\n")}")
    assert(plan.contains("In(w"),
      s"term filter not pushed into the posting scan:\n$plan")
    // search on a missing index fails loudly
    intercept[IllegalArgumentException] {
      SearchOps.invertedIndexSearch(Terms, freshSink("missing"))
    }
  }

  test("batch search: per-query scores equal the looped single-query scorer exactly") {
    // the r16-verdict batch-lexical op: N term sets through one pushed
    // postings scan must return, per query, EXACTLY what that query's
    // single-query search returns over its own term set — same formula,
    // same float association, so the maps compare raw (6-dp rounded
    // only to match the scores() helper's convention)
    val docs = Tables.load(spark, sf, "documents")
    val sink = freshSink("batch")
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", sink)
    val sets = Map(
      0L -> Seq("vector", "merge"),
      1L -> Seq("stream", "join"),
      2L -> Seq("hash", "vector", "scan"))
    // a duplicate (query, term) request row must not double-score
    val req = (sets.toSeq.flatMap { case (q, ts) => ts.map(q -> _) } :+
      (0L -> "vector")).toDF("query_id", "w")
    val batch = SearchOps.invertedIndexSearchBatch(req, sink)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("s"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(r => r._2 -> r._3).toMap
      }
    assert(batch.keySet == sets.keySet, s"queries served: ${batch.keySet}")
    sets.foreach { case (q, ts) =>
      val single = scores(SearchOps.invertedIndexSearch(ts, sink))
      assert(batch(q) == single,
        s"query $q: batch != single-query over ${ts.mkString(",")}: " +
          s"${(batch(q).toSet diff single.toSet).take(3)} / " +
          s"${(single.toSet diff batch(q).toSet).take(3)}")
    }
    // the snapshot form returns the same frame (materialized in use)
    val snap = SearchOps.invertedIndexSearchBatchSnapshot(req, sink) {
      df => df.select(col("query_id"), col("doc_id"),
          round(col("score"), 6).as("s"))
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(snap == batch.toSeq.flatMap { case (q, m) =>
      m.map { case (d, s) => (q, d, s) } }.toSet,
      "snapshot batch search diverged from the live read")
    // fails loudly on a missing index, like every sibling entry point
    intercept[IllegalArgumentException] {
      SearchOps.invertedIndexSearchBatch(req, freshSink("batchmissing"))
    }
  }

  test("admit: index equals a fresh build on the union; replayed admit converges") {
    val docs = Tables.load(spark, sf, "documents")
    val archive = docs.filter($"doc_id" % 3 =!= 0)
    val batch = docs.filter($"doc_id" % 3 === 0)
    // admitting before build fails loudly and creates NOTHING — the
    // first-write path would otherwise half-create the index and then
    // crash on the missing stats table
    val virgin = freshSink("admit_virgin")
    intercept[IllegalArgumentException] {
      SearchOps.invertedIndexAdmit(batch, "doc_id", "text", virgin)
    }
    assert(!virgin.exists(SearchOps.Postings),
      "refused admit still half-created the index")
    val sink = freshSink("admit")
    SearchOps.invertedIndexBuild(archive, "doc_id", "text", sink)
    SearchOps.invertedIndexAdmit(batch, "doc_id", "text", sink,
      admitId = Some("sa-1"))
    val expected = freshSink("admit_expect")
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", expected)
    val tables = Seq(SearchOps.Postings, SearchOps.DocLens, SearchOps.Stats)
    for (t <- tables)
      assert(rows(sink, t) == rows(expected, t),
        s"$t after admit != fresh build on the union")
    // THE REPLAY (crashed-admit recovery): posting/length merges
    // converge by themselves, the additive stats fold through the
    // admit journal — all three tables bit-equal to a single admit
    SearchOps.invertedIndexAdmit(batch, "doc_id", "text", sink,
      admitId = Some("sa-1"))
    for (t <- tables)
      assert(rows(sink, t) == rows(expected, t),
        s"$t diverged on a replayed admit")
  }

  test("retract: index equals a fresh build on survivors; replay byte-free") {
    val docs = Tables.load(spark, sf, "documents")
    val subjects = docs.filter($"doc_id" % 5 === 0)
    val sink = freshSink("retract")
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", sink)
    SearchOps.invertedIndexRetract(subjects, "doc_id", "text", sink,
      opId = Some("sr-1"))
    val expected = freshSink("retract_expect")
    SearchOps.invertedIndexBuild(docs.filter($"doc_id" % 5 =!= 0),
      "doc_id", "text", expected)
    for (t <- Seq(SearchOps.Postings, SearchOps.DocLens, SearchOps.Stats))
      assert(rows(sink, t) == rows(expected, t),
        s"$t after retract != fresh build on survivors")
    // erased docs can never be served again (their postings AND their
    // contribution to N/avgdl are gone)
    val served = scores(SearchOps.invertedIndexSearch(Terms, sink))
    assert(served.keySet.forall(_ % 5 != 0), "search served an erased doc")
    assert(served == scores(TextOps.bm25Scores(
      docs.filter($"doc_id" % 5 =!= 0), "doc_id", "text", Terms)),
      "post-erasure scores != direct scorer on survivors")
    // replay under the same op id: the journal skips both tables
    val pv = sink.version(SearchOps.Postings)
    val lv = sink.version(SearchOps.DocLens)
    SearchOps.invertedIndexRetract(subjects, "doc_id", "text", sink,
      opId = Some("sr-1"))
    assert(sink.version(SearchOps.Postings) == pv &&
      sink.version(SearchOps.DocLens) == lv, "replayed retract moved bytes")
    // erasing EVERY remaining document truncates the postings: the
    // erasure succeeds, and a later search refuses with the NAMED
    // empty-index error (the stats row survives structurally at zero)
    SearchOps.invertedIndexRetract(docs.filter($"doc_id" % 5 =!= 0),
      "doc_id", "text", sink)
    assert(!sink.hasData(SearchOps.Postings))
    assert(rows(sink, SearchOps.Stats) == Set(Seq(0, 0L, 0L)),
      s"stats row not zeroed: ${rows(sink, SearchOps.Stats)}")
    val empty = intercept[IllegalStateException] {
      SearchOps.invertedIndexSearch(Terms, sink)
    }
    assert(empty.getMessage.contains("empty posting list"),
      s"wrong empty-index error: ${empty.getMessage}")
  }

  test("admit into a fully-erased index re-populates it (fileless NEW-ids guard)") {
    val docs = Tables.load(spark, sf, "documents").limit(40).localCheckpoint()
    val sink = freshSink("revive")
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", sink)
    SearchOps.invertedIndexRetract(docs, "doc_id", "text", sink)
    assert(!sink.hasData(SearchOps.Postings) &&
      !sink.hasData(SearchOps.DocLens), "full retract left data files")
    // the NEW-ids guard must read the FILELESS doclens table as
    // "nothing indexed" (vacuously clean) — not fall through to a plain
    // read that dies on schema inference (r15 advice): the erase-
    // everything end state is a legitimate store to admit back into
    val batch = docs.filter($"doc_id" % 2 === 0)
    SearchOps.invertedIndexAdmit(batch, "doc_id", "text", sink,
      admitId = Some("rv-1"))
    val expected = freshSink("revive_expect")
    SearchOps.invertedIndexBuild(batch, "doc_id", "text", expected)
    for (t <- Seq(SearchOps.Postings, SearchOps.DocLens, SearchOps.Stats))
      assert(rows(sink, t) == rows(expected, t),
        s"$t after admit-into-erased != fresh build on the batch")
    // and the revived index serves
    assert(scores(SearchOps.invertedIndexSearch(Terms, sink)) ==
      scores(TextOps.bm25Scores(batch, "doc_id", "text", Terms)),
      "revived index served wrong scores")
  }

  test("admit refuses already-indexed ids; journaled replay still converges") {
    val docs = Tables.load(spark, sf, "documents").limit(60).localCheckpoint()
    val sink = freshSink("readmit")
    val archive = docs.filter($"doc_id" % 3 =!= 0)
    val batch = docs.filter($"doc_id" % 3 === 0)
    SearchOps.invertedIndexBuild(archive, "doc_id", "text", sink)
    val statsBefore = rows(sink, SearchOps.Stats)
    // re-admitting ARCHIVE ids (already indexed) under a fresh admit id
    // is the user error the guard exists for: refused loudly, and the
    // stats row — the corruption target — is untouched
    val err = intercept[IllegalArgumentException] {
      SearchOps.invertedIndexAdmit(archive.limit(5), "doc_id", "text",
        sink, admitId = Some("readmit-bad"))
    }
    assert(err.getMessage.contains("already"),
      s"wrong refusal message: ${err.getMessage}")
    assert(rows(sink, SearchOps.Stats) == statsBefore,
      "refused admit still mutated the stats row")
    // a mixed batch (one old id among new) is refused whole — no
    // partial admission
    val mixed = batch.limit(4).unionByName(archive.limit(1))
    intercept[IllegalArgumentException] {
      SearchOps.invertedIndexAdmit(mixed, "doc_id", "text", sink)
    }
    // the guard must NOT break crash-replay: simulate a crash AFTER the
    // journaled stats fold but BEFORE the posting/length merges (the
    // fold-first ordering's one window) by folding through the same
    // admit id directly, then replaying the full admit — the replay
    // skips guard + fold via the journal and lands the merges
    import graft.sink.UpsertSink
    def statRowsOf(b: org.apache.spark.sql.DataFrame) = b
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .select(lit(0).as("k"), col("n"), col("sum_dl"))
    val folded = sink.read(SearchOps.Stats)
      .crossJoin(statRowsOf(batch)
        .select(col("n").as("__bn"), col("sum_dl").as("__bs")))
      .select(col("k"), (col("n") + col("__bn")).as("n"),
        (col("sum_dl") + col("__bs")).as("sum_dl"))
      .localCheckpoint(true)
    sink.merge(SearchOps.Stats, folded, Seq("k"), None, pkUnique = true,
      opId = Some("readmit-crash"))
    SearchOps.invertedIndexAdmit(batch, "doc_id", "text", sink,
      admitId = Some("readmit-crash"))
    val expected = freshSink("readmit_expect")
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", expected)
    for (t <- Seq(SearchOps.Postings, SearchOps.DocLens, SearchOps.Stats))
      assert(rows(sink, t) == rows(expected, t),
        s"$t: crash-window replay diverged from a fresh build")
  }

  test("snapshot search: same scores, torn-free capture, links released") {
    val docs = Tables.load(spark, sf, "documents").limit(80).localCheckpoint()
    val sink = freshSink("snapsearch")
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", sink)
    val plain = scores(SearchOps.invertedIndexSearch(Terms, sink))
    val snapped = SearchOps.invertedIndexSearchSnapshot(Terms, sink) { df =>
      scores(df)
    }
    assert(snapped == plain, "snapshot search diverged from plain search")
    // the snapshot's pins on the log entry are released when `use`
    // returns: a sweep with a zero horizon finds none left to reap
    assert(sink.cleanupSnapshots(maxAgeMillis = -1L) == 0,
      "snapshot pins leaked")
    // missing-index and erased-empty guards match the plain overload
    intercept[IllegalArgumentException] {
      SearchOps.invertedIndexSearchSnapshot(Terms, freshSink("snapmiss")) {
        _.count()
      }
    }
  }

  test("rebucket under serving: search byte-identical, admit routes by the new modulus") {
    // the 100 TB posture line ("the bucket modulus is the sink's to
    // grow") exercised on the serving table it was written about: a
    // posting table rebucketed 8 -> 16 must serve byte-identical
    // scores, and a subsequent admit must route by the NEW stored
    // modulus (merges honor the stored marker, never the instance
    // default) — proven by bit-equality with a fresh build on the
    // union
    val docs = Tables.load(spark, sf, "documents").limit(90).localCheckpoint()
    val archive = docs.filter($"doc_id" % 3 =!= 0)
    val batch = docs.filter($"doc_id" % 3 === 0)
    val sink = freshSink("rebucket")
    SearchOps.invertedIndexBuild(archive, "doc_id", "text", sink)
    val before = scores(SearchOps.invertedIndexSearch(Terms, sink))
    sink.rebucket(SearchOps.Postings, Seq("w", "doc_id"), 16)
    sink.rebucket(SearchOps.DocLens, Seq("doc_id"), 16)
    assert(scores(SearchOps.invertedIndexSearch(Terms, sink)) == before,
      "rebucket changed served scores")
    SearchOps.invertedIndexAdmit(batch, "doc_id", "text", sink,
      admitId = Some("rebucket-admit"))
    val expected = freshSink("rebucket_expect")
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", expected)
    for (t <- Seq(SearchOps.Postings, SearchOps.DocLens, SearchOps.Stats))
      assert(rows(sink, t) == rows(expected, t),
        s"$t after rebucket+admit != fresh build on the union")
    assert(scores(SearchOps.invertedIndexSearch(Terms, sink)) ==
      scores(SearchOps.invertedIndexSearch(Terms, expected)),
      "post-rebucket admit served different scores")
  }

  test("eraseSubjects sweeps the inverted index with ledger receipts") {
    val docs = Tables.load(spark, sf, "documents").limit(60)
      .localCheckpoint()
    val sink = freshSink("sweep")
    TextOps.fingerprintStoreBuild(docs, "doc_id", "text", sink)
    SearchOps.invertedIndexBuild(docs, "doc_id", "text", sink)
    val subjects = docs.filter($"doc_id" % 7 === 2)
    val report = EraseOps.eraseSubjects(subjects, "doc_id", "text", sink,
      sweepId = "search-sweep-1")
    assert(report.erased.toSet == Set("fingerprint_store",
      SearchOps.Postings, SearchOps.DocLens, SearchOps.Stats))
    assert(sink.read(SearchOps.DocLens)
      .join(subjects.select("doc_id"), "doc_id").count() == 0,
      "sweep left a subject's length row")
    val led = sink.read(EraseOps.LedgerTable)
      .filter($"sweep_id" === "search-sweep-1")
      .select("member_table").as[String].collect().toSet
    assert(led == Set("fingerprint_store", SearchOps.Postings,
      SearchOps.DocLens, SearchOps.Stats))
  }

  /** The id of the sink's newest commit-log entry (`_log/<n>.json`). */
  private def headEntry(sink: UpsertSink): Long = {
    val s = Files.list(java.nio.file.Paths.get(sink.rootPath, "_log"))
    try s.iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.matches("\\d+\\.json") => n.stripSuffix(".json").toLong }
      .max
    finally s.close()
  }

  test("an admit is ONE commit; a replay of it commits nothing") {
    val docs = Tables.load(spark, sf, "documents").limit(60).localCheckpoint()
    val sink = freshSink("onecommit")
    SearchOps.invertedIndexBuild(docs.filter($"doc_id" % 3 =!= 0),
      "doc_id", "text", sink)
    val before = headEntry(sink)
    SearchOps.invertedIndexAdmit(docs.filter($"doc_id" % 3 === 0), "doc_id",
      "text", sink, admitId = Some("one-1"))
    assert(headEntry(sink) == before + 1,
      s"admit made ${headEntry(sink) - before} log entries")
    SearchOps.invertedIndexAdmit(docs.filter($"doc_id" % 3 === 0), "doc_id",
      "text", sink, admitId = Some("one-1"))
    assert(headEntry(sink) == before + 1, "a replayed admit committed")
  }

  test("a re-delivered admit never resurrects an erased document") {
    val docs = Tables.load(spark, sf, "documents").limit(60).localCheckpoint()
    val archive = docs.filter($"doc_id" % 3 =!= 0)
    val batch = docs.filter($"doc_id" % 3 === 0)
    val sink = freshSink("redeliver")
    SearchOps.invertedIndexBuild(archive, "doc_id", "text", sink)
    SearchOps.invertedIndexAdmit(batch, "doc_id", "text", sink,
      admitId = Some("rd-1"))
    val tables = Seq(SearchOps.Postings, SearchOps.DocLens, SearchOps.Stats)
    val versions = tables.map(sink.version)
    SearchOps.invertedIndexAdmit(batch, "doc_id", "text", sink,
      admitId = Some("rd-1"))
    assert(tables.map(sink.version) == versions,
      s"a replayed admit moved ${tables.zip(versions).filter { case (t, v) =>
        sink.version(t) != v }.map(_._1).mkString(", ")}")
    // erase one of the batch's documents, then the admit is re-delivered
    val gone = batch.select("doc_id").as[Long].collect().min
    EraseOps.eraseSubjects(batch.filter($"doc_id" === gone), "doc_id", "text",
      sink, sweepId = "rd-erase")
    SearchOps.invertedIndexAdmit(batch, "doc_id", "text", sink,
      admitId = Some("rd-1"))
    val expected = freshSink("redeliver_expect")
    SearchOps.invertedIndexBuild(docs.filter($"doc_id" =!= gone),
      "doc_id", "text", expected)
    for (t <- tables)
      assert(rows(sink, t) == rows(expected, t),
        s"$t after erase + re-delivered admit != fresh build without the erased doc")
  }
}
