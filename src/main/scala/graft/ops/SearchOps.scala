package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sink.{TableDelete, TableErase, TableMerge, TableWrite, UpsertSink}

/** PERSISTED INVERTED INDEX — the keyword-search serving layer joins
  * the incremental-store family (build / probe / admit / erase), the
  * same move [[SimOps]] made for the ANN layer: [[TextOps.bm25Scores]]
  * re-tokenizes the corpus on every query (honest single-shot cost,
  * wrong amortization for a serving path); a real retrieval deployment
  * tokenizes ONCE into posting lists and serves every query from them.
  *
  * Three tables, landed as one atomic group:
  *  - `bm25_postings` (w, doc_id, tf): one row per distinct
  *    (term, document) — the classic posting list, linear in the
  *    corpus token mass;
  *  - `bm25_doclens` (doc_id, dl): per-document token length — the
  *    BM25 length-normalization side (a document with NO query-term
  *    match still counts toward the corpus statistics);
  *  - `bm25_stats` (k=0, n, sum_dl): the EXACT corpus statistics
  *    behind (N, avgdl), maintained ADDITIVELY — admit adds the
  *    batch's (count, token sum), erasure subtracts the subjects' —
  *    so a search never pays a corpus-sized aggregate for two
  *    scalars (at 10⁹ documents that is an 8 GB column scan per
  *    query batch, for a number the admit already knew). Integer
  *    counts ⇒ the maintained row is bit-equal to a fresh
  *    recomputation, not an approximation.
  *
  * Search reads ONLY index tables: the query-term `isin` filter
  * reaches the posting scan as a pushed parquet predicate, per-term
  * document frequencies aggregate from the already-filtered rows
  * (terms-sized), (N, avgdl) is the 1-row stats read, and the
  * length join is co-keyed on the doc id. Scores are the EXACT
  * [[TextOps.bm25Scores]] values — same formula, same float
  * association (avgdl = sum_dl/n differs from a running AVG by at
  * most an ulp, invisible at the 6-dp oracle boundary) — so the
  * served ranking oracle-checks against a direct corpus-side
  * recomputation (q129).
  *
  * 100 TB posture: the posting table buckets by its (w, doc_id) merge
  * key — admits and erasures touch only the batch's hash routes, and
  * a probe is one pushed-predicate column-pruned scan of the postings
  * (the fingerprint-store posture, measured flat by the store-slope
  * discipline). At serving scale the same layout partitions by a term
  * hash so the probe prunes files, not just row groups — the bucket
  * modulus is the sink's to grow ([[UpsertSink.rebucket]]).
  *
  * Update semantics: admit is for NEW document ids (the family's
  * append convention), and [[invertedIndexAdmit]] ENFORCES it — a
  * batch carrying an already-indexed id is refused before anything
  * mutates (re-folding an indexed id's (1, dl) would silently corrupt
  * the maintained (N, avgdl); and admitting a MODIFIED text under an
  * existing id would leave stale postings for terms the new text no
  * longer contains). Erase first, then admit. An admit is ONE sink
  * commit: postings and lengths PK-merge and the stats row count-merges
  * (the sink adds the batch's (n, sum_dl)) in one
  * [[UpsertSink.mergeMany]] — pass `admitId` and the id lands on all
  * three tables with their rows, so a re-delivered admit is a no-op,
  * even after an erasure of one of its documents (the count-store
  * family contract).
  */
object SearchOps {

  private[graft] val Postings = "bm25_postings"
  private[graft] val DocLens = "bm25_doclens"
  private[graft] val Stats = "bm25_stats"

  private def postingRows(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("tf"))
      .select(col("w"), col("doc_id"), col("tf"))

  private def lenRows(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("dl"))

  private def statRows(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    lenRows(docs, idCol, textCol)
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .select(lit(0).as("k"), col("n"), col("sum_dl"))

  /** Tokenize `docs` ONCE into the persisted posting + length + stats
    * tables — one atomic group write (a searcher can never pair one
    * generation's postings with another's lengths or statistics).
    */
  def invertedIndexBuild(docs: DataFrame, idCol: String, textCol: String,
                         sink: UpsertSink): Unit =
    sink.overwriteMany(Seq(
      TableWrite(Postings, postingRows(docs, idCol, textCol),
        Seq("w", "doc_id")),
      TableWrite(DocLens, lenRows(docs, idCol, textCol), Seq("doc_id")),
      TableWrite(Stats, statRows(docs, idCol, textCol), Seq("k"))))

  /** True iff a complete index exists under the sink root. */
  def invertedIndexExists(sink: UpsertSink): Boolean =
    sink.exists(Postings) && sink.exists(DocLens) && sink.exists(Stats)

  /** BM25 scores for `terms` served from the PERSISTED index — no
    * corpus read, no re-tokenization: the stored tf/dl are exact, so
    * the scores are bit-the-same as [[TextOps.bm25Scores]] over the
    * indexed corpus (same formula, same float association — spec- and
    * oracle-pinned). Output (doc_id, score double) for every document
    * matching ≥ 1 term; ranking/limit stays the caller's (the
    * bm25Scores convention — a top-k at a rounding boundary would make
    * the selected SET float-sensitive).
    *
    * Consistency scope: the three index tables are read through three
    * independent live scans, so the one-generation pairing of
    * (postings, lengths, stats) holds for readers that do NOT race a
    * concurrent admit/erase (writers mutate all three under one lease,
    * but a lock-free reader's three captures can still straddle a
    * swap). A reader that must be crash-consistent against live
    * writers uses [[invertedIndexSearchSnapshot]], which captures all
    * three tables as one point-in-time [[UpsertSink.snapshotMany]]
    * group.
    */
  def invertedIndexSearch(terms: Seq[String], sink: UpsertSink,
                          k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(invertedIndexExists(sink),
      s"no inverted index under ${sink.rootPath} — run invertedIndexBuild")
    // an EXISTING but fileless posting table is the delete-all end
    // state (every document erased) — name it, like the ANN family
    if (!sink.hasData(Postings))
      throw new IllegalStateException(
        s"inverted index under ${sink.rootPath} has an empty posting " +
          "list — every document was erased; rebuild or drop it")
    scoreFromTables(terms, sink.read(Postings), sink.read(DocLens),
      sink.read(Stats), k1, b)
  }

  /** [[invertedIndexSearch]] over ONE point-in-time capture of all
    * three index tables ([[UpsertSink.snapshotMany]]): `use` receives
    * the scored frame and whatever it computes is returned after the
    * snapshot links are released — so even a search racing a live
    * admit/erase can never pair one generation's postings with another
    * generation's lengths or statistics (the atomicity the module doc
    * claims, made true for LOCK-FREE readers; the plain overload's
    * claim is scoped to non-racing readers). The snapshot's lifetime
    * is the `use` body: materialize (collect/write) inside it.
    */
  def invertedIndexSearchSnapshot[T](terms: Seq[String], sink: UpsertSink,
                                     k1: Double = 1.2, b: Double = 0.75)(
      use: DataFrame => T): T = {
    require(invertedIndexExists(sink),
      s"no inverted index under ${sink.rootPath} — run invertedIndexBuild")
    if (!sink.hasData(Postings))
      throw new IllegalStateException(
        s"inverted index under ${sink.rootPath} has an empty posting " +
          "list — every document was erased; rebuild or drop it")
    val snaps = sink.snapshotMany(Seq(Postings, DocLens, Stats))
    try use(scoreFromTables(terms, snaps(0).df, snaps(1).df, snaps(2).df,
      k1, b))
    finally snaps.foreach(_.close())
  }

  /** BM25 scores for a BATCH of queries, each with ITS OWN term set,
    * through one shared postings read (r16 verdict "What's wrong #1" —
    * the lexical side of batch serving must not loop N single-query
    * plans): `termSets` is the request payload, (`queryCol`,
    * `termCol`) rows — one row per (query, term). The UNION of every
    * query's terms pushes into the posting scan as one `isin` parquet
    * predicate — the physical plan reads the (pushed, term-filtered)
    * postings exactly TWICE, for the tf side and the df aggregate,
    * CONSTANT in the batch's query count (the looped alternative pays
    * 2N; PlanShapeSpec pins the 2). Per-term document frequencies
    * aggregate from the already-filtered rows (they are corpus-global —
    * a term's df does not depend on which query asked), and one
    * broadcast join against the (query, term) pairs replicates each
    * matching posting to exactly the queries that requested its term
    * before the per-(query, doc) sum. Scores are the EXACT single-query
    * [[invertedIndexSearch]] values restricted to each query's term set
    * (same formula, same per-posting arithmetic — q137's oracle pins
    * the parity against DuckDB per query).
    *
    * Scale shape: the request is BOUNDED (a serving payload, not data),
    * so the driver-side collect of its distinct terms and the broadcast
    * of its (query, term) pairs are bounded too; everything corpus-
    * sized stays in the one pushed-predicate postings scan. Output:
    * (`queryCol`, doc_id, score) for every (query, doc) sharing ≥ 1
    * term. Duplicate (query, term) request rows are deduped up front —
    * a term listed twice must not score twice.
    *
    * Same consistency scope as the plain [[invertedIndexSearch]]: three
    * live table reads, safe for readers not racing a live writer; the
    * crash-consistent form is [[invertedIndexSearchBatchSnapshot]].
    */
  def invertedIndexSearchBatch(termSets: DataFrame, sink: UpsertSink,
                               queryCol: String = "query_id",
                               termCol: String = "w",
                               k1: Double = 1.2,
                               b: Double = 0.75): DataFrame = {
    require(invertedIndexExists(sink),
      s"no inverted index under ${sink.rootPath} — run invertedIndexBuild")
    if (!sink.hasData(Postings))
      throw new IllegalStateException(
        s"inverted index under ${sink.rootPath} has an empty posting " +
          "list — every document was erased; rebuild or drop it")
    scoreFromTablesBatch(termSets, queryCol, termCol, sink.read(Postings),
      sink.read(DocLens), sink.read(Stats), k1, b)
  }

  /** [[invertedIndexSearchBatch]] over ONE point-in-time capture of all
    * three index tables — the batch sibling of
    * [[invertedIndexSearchSnapshot]], same `use`-scoped lifetime.
    */
  def invertedIndexSearchBatchSnapshot[T](termSets: DataFrame,
                                          sink: UpsertSink,
                                          queryCol: String = "query_id",
                                          termCol: String = "w",
                                          k1: Double = 1.2,
                                          b: Double = 0.75)(
      use: DataFrame => T): T = {
    require(invertedIndexExists(sink),
      s"no inverted index under ${sink.rootPath} — run invertedIndexBuild")
    if (!sink.hasData(Postings))
      throw new IllegalStateException(
        s"inverted index under ${sink.rootPath} has an empty posting " +
          "list — every document was erased; rebuild or drop it")
    val snaps = sink.snapshotMany(Seq(Postings, DocLens, Stats))
    try use(scoreFromTablesBatch(termSets, queryCol, termCol, snaps(0).df,
      snaps(1).df, snaps(2).df, k1, b))
    finally snaps.foreach(_.close())
  }

  /** The BM25 idf term over (__n, __df) — shared by the single-query
    * and batch scorers so the arithmetic can never drift between them.
    * Parenthesization mirrors TextOps.bm25Scores TERM FOR TERM — float
    * association differences would surface at the 6-dp rounding edge
    * the oracles compare at.
    */
  private def bm25Idf: Column =
    log((col("__n") - col("__df") + lit(0.5))
      / (col("__df") + lit(0.5)) + lit(1.0))

  /** The BM25 tf-normalization term over (__tf, __dl, __avgdl). */
  private def bm25Norm(k1: Double, b: Double): Column =
    col("__tf") * lit(k1 + 1.0) /
      (col("__tf") + lit(k1) *
        (lit(1.0 - b) + lit(b) * (col("__dl") / col("__avgdl"))))

  /** The one scoring plan both search entry points share: frames must
    * be (postings, doclens, stats) of ONE index generation.
    */
  private def scoreFromTables(terms: Seq[String], postings: DataFrame,
                              doclens: DataFrame, statsTbl: DataFrame,
                              k1: Double, b: Double): DataFrame = {
    val lens = doclens.select(col("doc_id"), col("dl").as("__dl"))
    // (N, avgdl) from the maintained 1-row stats table — never a
    // corpus-sized aggregate at query time
    val stats = statsTbl.select(
      col("n").cast("double").as("__n"),
      (col("sum_dl").cast("double") / col("n").cast("double"))
        .as("__avgdl"))
    // the isin filter reaches the posting scan as a pushed parquet
    // predicate (PlanShapeSpec-pinned): only term-matching rows leave
    // the scan
    val tf = postings.filter(col("w").isInCollection(terms))
      .select(col("w").as("__w"), col("doc_id"), col("tf").as("__tf"))
    val dfreq = tf.groupBy("__w")
      .agg(count(lit(1)).cast("double").as("__df"))
    tf.join(broadcast(dfreq), "__w")
      .crossJoin(broadcast(stats))
      .join(lens, "doc_id")
      .groupBy("doc_id")
      .agg(sum(bm25Idf * bm25Norm(k1, b)).as("score"))
  }

  /** The batch scoring plan both batch entry points share: one pushed-
    * predicate postings scan for the UNION of the request's terms, one
    * broadcast (query, term) replication, one per-(query, doc) sum.
    */
  private def scoreFromTablesBatch(termSets: DataFrame, queryCol: String,
                                   termCol: String, postings: DataFrame,
                                   doclens: DataFrame, statsTbl: DataFrame,
                                   k1: Double, b: Double): DataFrame = {
    // the request payload is bounded by contract — dedupe (a term
    // listed twice must not score twice), then collect the term union
    // for the ONE pushed posting predicate
    val pairs = termSets
      .select(col(queryCol).as("__q"), col(termCol).as("__w")).distinct()
      .localCheckpoint(true) // collected AND joined below — one derivation
    val terms = pairs.select("__w").distinct()
      .collect().map(_.getString(0)).toSeq
    val lens = doclens.select(col("doc_id"), col("dl").as("__dl"))
    val stats = statsTbl.select(
      col("n").cast("double").as("__n"),
      (col("sum_dl").cast("double") / col("n").cast("double"))
        .as("__avgdl"))
    val tf = postings.filter(col("w").isInCollection(terms))
      .select(col("w").as("__w"), col("doc_id"), col("tf").as("__tf"))
    // df is CORPUS-GLOBAL (a term's document frequency does not depend
    // on which query asked) — aggregate once from the filtered scan,
    // before any per-query replication
    val dfreq = tf.groupBy("__w")
      .agg(count(lit(1)).cast("double").as("__df"))
    tf.join(broadcast(dfreq), "__w")
      .join(broadcast(pairs), "__w") // replicate to requesting queries
      .crossJoin(broadcast(stats))
      .join(lens, "doc_id")
      .groupBy(col("__q"), col("doc_id"))
      .agg(sum(bm25Idf * bm25Norm(k1, b)).as("score"))
      .withColumnRenamed("__q", queryCol)
  }

  /** ADMIT a batch of NEW documents in ONE sink commit under `admitId`:
    * PK-merge their postings and lengths and count-merge the batch's
    * per-document (1, dl) into the stats row (the sink adds them inside
    * its bucket rewrite) — one [[UpsertSink.mergeMany]], under the
    * writer lease so a concurrent eraser cannot interleave.
    *
    * The NEW-ids contract is ENFORCED: re-admitting an id the index
    * already holds would count its (1, dl) into the stats row AGAIN —
    * silently corrupting (N, avgdl) for every future score. The guard
    * checks the batch's ids against `bm25_doclens` inside the lease and
    * refuses on any overlap — erase first, then admit. It opens only
    * the length buckets the batch's ids hash into
    * ([[graft.sink.UpsertSink.readKeyBuckets]]), so it stays
    * batch-sized at any archive size.
    *
    * A batch the driver already holds (a local relation, e.g.
    * `createDataFrame(rows, schema)` or `toDF`) stays there: its ids
    * route on the driver and the guard matches them in ONE Spark job
    * (a filter on the ids; a batch of more than 200 ids semi-joins
    * them), and its postings delta is collected once (only when
    * the merge will apply it) so the sink merges every member with no
    * touched-bucket job. A distributed batch checkpoints its ids and
    * lets the sink learn the postings' buckets in a job.
    *
    * Replay: every member records `admitId` in the commit that applies
    * it, so a replay of a committed admit skips all three tables (a
    * whole no-op — an erasure since then stays erased), and a replay
    * after a partial failure applies only the members that lack the id.
    * Either way some member holds the id and the guard is skipped: it
    * would misread the admit's own committed lengths as a duplicate.
    * Without an `admitId` the stats merge is at-least-once and a replay
    * after a partial failure can be refused by the guard.
    */
  def invertedIndexAdmit(batch: DataFrame, idCol: String, textCol: String,
                         sink: UpsertSink,
                         admitId: Option[String] = None): Unit = {
    // fail loudly BEFORE the merge: the first-write path would
    // otherwise half-create the index — every sibling op guards the
    // same way (ivfPqIndexRemove, invertedIndexSearch)
    require(invertedIndexExists(sink),
      s"no inverted index under ${sink.rootPath} — run invertedIndexBuild")
    val tables = Seq(Stats, Postings, DocLens)
    val spark = batch.sparkSession
    sink.writerLocked(tables) {
      val ids = batch.select(col(idCol).as("doc_id"))
      // a batch the driver holds (a local relation) keeps its ids and
      // its postings delta on the driver: the guard routes its ids with
      // no job, and the sink merges the held delta with no
      // touched-bucket job
      val held = UpsertSink.held(ids).isDefined
      // a FILELESS doclens table is the erase-everything end state: no
      // id can be indexed, so the guard is vacuously clean
      if (!admitId.exists(id => tables.exists(sink.admitCommitted(_, id))) &&
          sink.hasData(DocLens)) {
        val already = Par.labeled(spark, "admit:guard") {
          if (held) sink.readKeyBuckets(DocLens, ids, Seq("doc_id"))
            .select("doc_id").collect().length.toLong // bounded by the batch
          // checkpointed once: the ids drive BOTH the bucket routing and
          // the membership join — a nondeterministic upstream recomputed
          // between the two could route to the wrong buckets. The
          // checkpoint keeps the batch's size, so Spark broadcasts a
          // batch under its broadcast threshold
          else sink.readKeyBuckets(DocLens, ids.distinct().localCheckpoint(true),
            Seq("doc_id")).count()
        }
        require(already == 0L,
          s"invertedIndexAdmit: $already of the batch's ids are already " +
            s"indexed under ${sink.rootPath} — admit is for NEW document " +
            "ids (re-counting an indexed id corrupts the maintained " +
            "(N, avgdl)); erase first, then admit")
      }
      val postings = postingRows(batch, idCol, textCol)
      // held only when the merge will apply it: a re-delivered admit
      // whose postings already landed runs no job at all
      val heldPostings =
        if (held && !admitId.exists(sink.admitCommitted(Postings, _)))
          Par.labeled(spark, "admit:hold")(UpsertSink.hold(postings))
        else postings
      sink.mergeMany(Seq(
        TableMerge(Stats, lenRows(batch, idCol, textCol).select(lit(0).as("k"),
          lit(1L).as("n"), col("dl").as("sum_dl")),
          Seq("k"), counts = Seq("n", "sum_dl")),
        TableMerge(Postings, heldPostings, Seq("w", "doc_id"), pkUnique = true),
        TableMerge(DocLens, lenRows(batch, idCol, textCol),
          Seq("doc_id"), pkUnique = true)), admitId)
    }
  }

  /** ERASE documents from the index: their posting keys RE-DERIVE from
    * the subjects' text (the family contract — retract exactly what
    * was admitted; one map pass, NO store scan), their length rows
    * delete by id, and their (count, token sum) SUBTRACTS from the
    * stats row — all under one [[UpsertSink.eraseMany]] group. A
    * search can never see a document gone from the postings but still
    * inflating (N, avgdl) — or vice versa. `opId` rides the erasure
    * journal: the count decrement replays exactly-once.
    */
  def invertedIndexRetract(docs: DataFrame, idCol: String, textCol: String,
                           sink: UpsertSink,
                           opId: Option[String] = None): Unit =
    sink.eraseMany(invertedRetractTables, opId) {
      invertedRetractPlan(docs, idCol, textCol)
    }

  private[graft] def invertedRetractTables: Seq[String] =
    Seq(Postings, DocLens, Stats)

  private[graft] def invertedRetractPlan(
      docs: DataFrame, idCol: String, textCol: String): Seq[TableErase] =
    Seq(
      TableDelete(Postings,
        postingRows(docs, idCol, textCol).select(col("w"), col("doc_id")),
        Seq("w", "doc_id")),
      TableDelete(DocLens,
        docs.select(col(idCol).as("doc_id")).distinct(), Seq("doc_id")),
      // per-doc decrement rows — the sink sums them per pk; the stats
      // row is STRUCTURAL (a zero row means "empty corpus", which the
      // search guard names), so it never drops
      graft.sink.TableCountRetract(Stats,
        lenRows(docs, idCol, textCol).select(lit(0).as("k"),
          lit(1L).as("n"), col("dl").as("sum_dl")),
        Seq("k"), Seq("n", "sum_dl"), dropAtZero = false))
}
