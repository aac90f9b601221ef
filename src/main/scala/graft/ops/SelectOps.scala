package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Targeted data-selection operators — the "pick the best slice of the
  * crawl for MY domain" family every large-scale training-data pipeline
  * runs after cleaning and dedup:
  *
  *  - DSIR-style hashed n-gram importance scoring (Xie et al. 2023,
  *    "Data Selection for Language Models via Importance Resampling"):
  *    fit bag-of-hashed-ngram distributions on a small target/domain
  *    sample and on the raw pool, score every raw document by how
  *    target-like its n-grams are, and resample proportionally.
  *  - CCNet perplexity bucketing (Wenzek et al. 2020): split the corpus
  *    into head/middle/tail tiers per language by language-model score,
  *    so downstream mixing can oversample the fluent tier.
  *  - Embedding domain-centroid selection: the embedding-space analogue
  *    of DSIR — rank the pool by cosine to the target sample's centroid
  *    and keep the top-k (the "domain relevance" retrieval used by e.g.
  *    DsDm / retrieval-based data curation).
  *
  * Scale shape, by construction:
  *  - The only corpus-scale shuffles are key-BOUNDED histograms (n-gram
  *    buckets ≤ `buckets`, embedding dimensions ≤ dim, languages ≤ a
  *    handful) — all map-side combinable.
  *  - Model state (bucket weight tables, centroids, per-language
  *    thresholds) is collected bounded (B / dim / #langs rows) and rides
  *    the plan as a broadcast literal; scoring is then a map-only scan —
  *    no per-document shuffle, no UDF, whole-stage codegen throughout.
  *  - Selection is top-k by (score, id) → TakeOrderedAndProject, never a
  *    global sort.
  *
  * Oracle discipline (house rule): each operator has an integer
  * fixed-point form whose arithmetic an external SQL engine reproduces
  * bit-for-bit (md5-stable hashing, per-mille ratios, floor division on
  * non-negative values), plus the float form the papers describe
  * (log-ratio weights, Gumbel resampling) pinned by ScalaTest ranking /
  * invariance properties instead.
  */
object SelectOps {

  // --- DSIR: hashed n-gram importance ------------------------------------

  /** Raw hashed-n-gram feature strings for a document: unigrams ++
    * space-joined word bigrams (the DSIR paper's feature space).
    * Bigrams are disjoint from any unigram (no single token contains a
    * space). Feature buckets are the md5-stable 60-bit hash mod
    * `buckets` — `pmod(TextOps.stableHash64(g), B)` — computed where it
    * is cheapest for the consumer: post-explode as a top-level codegen
    * expression in [[bucketHist]], inside the one-pass codegen
    * [[graft.functions.DsirSumAffMil]] loop (straight off the token
    * bytes, no gram array materialized at all) in the scoring scans.
    * Either way an external SQL oracle reproduces bucket ids exactly.
    */
  private def ngramStrings(text: Column): Column = {
    val w = TextOps.tokens(text)
    val pairLen = greatest(size(w) - 1, lit(0))
    val bigrams = zip_with(
      slice(w, lit(1), pairLen), slice(w, lit(2), pairLen),
      (a, b) => concat(a, lit(" "), b))
    concat(w, bigrams)
  }

  /** Corpus-wide n-gram bucket histogram: (bucket long, cnt long),
    * ≤ `buckets` rows. One explode + one count shuffle on a key space
    * bounded by `buckets` — map-side partial aggregation makes the
    * exchange carry at most `buckets` rows per map task regardless of
    * corpus size. The md5 hash runs AFTER the explode as a top-level
    * codegen'd expression, not inside the transform lambda —
    * higher-order-function bodies are interpreted (CodegenFallback),
    * and per-gram md5 is exactly the kind of hot expression that
    * regresses several-fold there.
    */
  def bucketHist(df: DataFrame, textCol: String, buckets: Int): DataFrame =
    df.select(explode(ngramStrings(col(textCol))).as("__g"))
      .select(pmod(TextOps.stableHash64(col("__g")), lit(buckets.toLong))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))

  /** Per-bucket target-affinity table in per-mille, as a dense lookup
    * array: `aff(b) = (1000 * (ct_b + 1)) div (ct_b + cr_b + 2)` — the
    * Laplace-smoothed posterior (in ‰, floor) that an occurrence of
    * bucket `b` came from the TARGET sample rather than the RAW pool.
    * A bucket seen by neither side sits at the neutral prior 500.
    * Monotone in the DSIR likelihood ratio per bucket, and exact in
    * integer arithmetic — which is what lets a SQL oracle reproduce
    * document scores bit-for-bit where the paper's float log-ratio
    * cannot promise cross-engine equality.
    *
    * Driver memory: exactly `buckets` longs (bounded by construction).
    */
  private[ops] def affinityTableMil(target: DataFrame, raw: DataFrame,
                                    textCol: String, buckets: Int): Array[Long] = {
    val ht = bucketHist(target, textCol, buckets)
      .withColumnRenamed("cnt", "ct")
    val hr = bucketHist(raw, textCol, buckets)
      .withColumnRenamed("cnt", "cr")
    val aff = Array.fill[Long](buckets)(500L)
    hr.join(ht, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      .collect()
      .foreach { r =>
        val ct = r.getLong(1); val cr = r.getLong(2)
        aff(r.getLong(0).toInt) = (1000L * (ct + 1)) / (ct + cr + 2)
      }
    aff
  }

  /** The raw pool the DSIR contrast is fit against: every `corpus` row
    * whose id is NOT in the target sample. DSIR contrasts the TARGET
    * distribution with the distribution of the data it is selecting
    * FROM; when the target sample is drawn from the pool itself (the
    * common "label 1k in-domain docs out of the crawl" workflow),
    * leaving its rows in the raw histogram double-counts every target
    * gram on both sides of the posterior and drags a purely in-domain
    * document to the neutral prior (ct == cr ⇒ exactly 500‰). The
    * anti-join is id-keyed and the target side broadcasts (it is a
    * SAMPLE — small by construction); a target disjoint from the
    * corpus passes through unchanged. Callers scoring an EXTERNAL
    * target (Wikipedia-vs-crawl) must not reuse pool ids for target
    * rows — ids are the identity here.
    */
  private def rawPool(corpus: DataFrame, target: DataFrame,
                      idCol: String): DataFrame =
    corpus.join(broadcast(target.select(col(idCol))), Seq(idCol), "left_anti")

  /** DSIR-style importance scoring, integer fixed-point form: every raw
    * document's mean per-mille target affinity over its hashed n-grams.
    * Output: (idCol, n_grams int, dsir_mil bigint — null when the
    * document has no grams), one row per `corpus` row.
    *
    * The raw histogram is fit on [[rawPool]] — corpus MINUS the target
    * sample's rows (by id) — so a target drawn from the pool never
    * cancels itself to the 500‰ neutral prior; see [[rawPool]] for the
    * convention.
    *
    * Plan: two bounded histograms (above), then ONE map-only scoring
    * scan — the affinity table rides the plan as a single long[]
    * reference object (never unrolled — the LshSignatures lesson), and
    * the per-document sum is the codegen
    * [[graft.functions.DsirSumAffMil]] pass over the token array: one
    * tight loop hashing unigrams and bigrams straight off the token
    * bytes, where the HOF formulation (transform + md5-in-lambda +
    * aggregate fold) runs every per-gram md5 interpreted
    * (CodegenFallback) with a concat allocation per bigram. No shuffle
    * downstream of the histograms, no UDF.
    */
  def dsirAffinityMil(corpus: DataFrame, target: DataFrame, idCol: String,
                      textCol: String, buckets: Int = 1024): DataFrame =
    scoreAffinityMil(corpus, idCol, textCol,
      affinityTableMil(target, rawPool(corpus, target, idCol),
        textCol, buckets))

  /** The map-only scoring tail shared by [[dsirAffinityMil]] and the
    * persisted-policy path ([[selectionStoreScore]]): (idCol, n_grams
    * int, dsir_mil bigint — null when gram-less) with the affinity
    * table riding the plan as one long[] reference object.
    */
  private def scoreAffinityMil(df: DataFrame, idCol: String,
                               textCol: String,
                               aff: Array[Long]): DataFrame = {
    graft.functions.DsirFunctions.register(df.sparkSession)
    val toks = TextOps.tokens(col(textCol))
    // n unigrams + (n-1) bigrams = 2n-1 grams for n >= 1 tokens
    val n = when(size(toks) === 0, lit(0)).otherwise(size(toks) * 2 - 1)
    val sumAff = graft.functions.DsirFunctions.sumAffMil(toks, aff)
    df.select(col(idCol), n.as("n_grams"), sumAff.as("__sa"))
      .select(col(idCol), col("n_grams"),
        // `div`, not `/`: integer floor-quotient on non-negative values,
        // bit-matching DuckDB's `//` (the q94 convention). CaseWhen
        // short-circuits, so the gram-less row never divides by zero.
        when(col("n_grams") === 0, lit(null).cast("long"))
          .otherwise(expr("__sa div n_grams")).as("dsir_mil"))
  }

  // --- incremental selection: persisted DSIR affinity policy -------------

  private[ops] val AffStore = "dsir_affinity"

  /** Persist a SELECTION POLICY: the dense per-bucket DSIR gram
    * histograms fit on an archive — `buckets` rows of (bucket int,
    * ct long, cr long): the TARGET sample's and the [[rawPool]]'s raw
    * gram counts per hash bucket. This is the missing incremental-store
    * modality next to dedup ([[graft.ops.TextOps]] stores) — at 100 TB
    * the policy is fit ONCE per archive/target refresh (two bounded
    * histograms over the archive), and every daily batch after that is
    * scored WITHOUT touching the archive at all: the store is ≤
    * `buckets` rows, the probe one map-only scan.
    *
    * RAW COUNTS, not the derived aff_mil ratio, are what persist: the
    * affinity derives at score time (same integer arithmetic as
    * [[affinityTableMil]], bit-identical scores), and counts are
    * additive — which is what makes the policy ERASABLE
    * ([[selectionStoreRetract]]): a subject's gram contribution
    * subtracts exactly, where a stored ratio is irreversible.
    */
  def selectionStoreBuild(archive: DataFrame, target: DataFrame,
                          idCol: String, textCol: String,
                          sink: graft.sink.UpsertSink,
                          buckets: Int = 512): Unit = {
    val s = archive.sparkSession
    val ht = bucketHist(target, textCol, buckets)
      .withColumnRenamed("cnt", "ct")
    val hr = bucketHist(rawPool(archive, target, idCol), textCol, buckets)
      .withColumnRenamed("cnt", "cr")
    // dense 0..buckets-1: every bucket present (zeros included), so the
    // score-time read can verify density and a retraction at zero keeps
    // the row (a zero bucket scores the neutral prior — structural)
    val dense = s.range(buckets).select(col("id").cast("int").as("bucket"))
      .join(ht, Seq("bucket"), "left")
      .join(hr, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    sink.overwrite(AffStore, dense, Seq("bucket"))
  }

  /** Score a NEW batch against the persisted policy, map-only:
    * (idCol, n_grams, dsir_mil, admitted int — dsir_mil >= minMil;
    * gram-less docs score null and are not admitted). The store read
    * is bounded (= `buckets` rows) and verified DENSE — a torn or
    * truncated policy table fails loudly rather than silently scoring
    * against a shifted bucket mapping. The per-bucket affinity derives
    * from the stored (ct, cr) with [[affinityTableMil]]'s exact
    * integer arithmetic: `(1000 * (ct + 1)) / (ct + cr + 2)`.
    */
  def selectionStoreScore(batch: DataFrame, idCol: String,
                          textCol: String, sink: graft.sink.UpsertSink,
                          minMil: Long = 520L): DataFrame = {
    val rows = sink.read(AffStore).collect()
    val buckets = rows.length
    require(buckets > 0, "selection store is empty — build the policy first")
    val aff = new Array[Long](buckets)
    val seen = new Array[Boolean](buckets)
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      require(b >= 0 && b < buckets && !seen(b),
        s"selection store is torn: bucket $b not in a dense " +
          s"0..${buckets - 1} layout")
      seen(b) = true
      val ct = r.getAs[Long]("ct"); val cr = r.getAs[Long]("cr")
      aff(b) = (1000L * (ct + 1)) / (ct + cr + 2)
    }
    scoreAffinityMil(batch, idCol, textCol, aff)
      .withColumn("admitted",
        when(col("dsir_mil") >= minMil, lit(1)).otherwise(lit(0)))
  }

  /** Admission for the selection policy: fold a day's ADMITTED batch
    * into the RAW-pool histogram — the policy's incremental write path
    * (the raw side is "the data being selected FROM", which grows with
    * every admitted batch; the target sample refreshes by refit, not
    * by fold). Post-fold the policy is bit-identical to a fresh fit on
    * (archive ∪ batch, same target), provided batch ids are disjoint
    * from the target's (the [[rawPool]] convention). O(touched buckets
    * + one batch gram scan): the batch's per-bucket counts go in as a
    * count merge on `cr`; additive ⇒ at-least-once under crash-replay
    * without `admitId`, exactly-once with it.
    */
  def selectionStoreAdmitRaw(batch: DataFrame, textCol: String,
                             sink: graft.sink.UpsertSink,
                             admitId: Option[String] = None): Unit =
    // whole fold under the writer lease (reentrant into the merge): the
    // bucket-count read serializes against a concurrent retract
    sink.writerLocked(Seq(AffStore)) {
      val buckets = sink.read(AffStore).count().toInt
      require(buckets > 0,
        "selection store is empty — build the policy first")
      sink.mergeMany(Seq(graft.sink.TableMerge(AffStore,
        bucketHist(batch, textCol, buckets).select(
          col("bucket").cast("int").as("bucket"), lit(0L).as("ct"),
          col("cnt").as("cr")),
        Seq("bucket"), pkUnique = true, counts = Seq("ct", "cr"))), admitId)
    }

  /** ERASE documents from the selection policy: subtract the erased
    * docs' per-bucket gram counts — target-sample members from `ct`,
    * raw-pool members from `cr` (the caller splits, since membership
    * was the caller's convention at build time; [[rawPool]] means the
    * two sets are disjoint). Post-retract the policy is bit-identical
    * to one fit WITHOUT the subjects. Rows are never dropped
    * (`dropAtZero = false`): the histogram is structurally dense, and
    * a both-zero bucket scores the neutral prior 500 — exactly a
    * never-seen bucket. Same caller contract as the count stores:
    * text exactly as admitted, each doc's contribution present once.
    */
  def selectionStoreRetract(fromTarget: DataFrame, fromRaw: DataFrame,
                            textCol: String,
                            sink: graft.sink.UpsertSink): Unit =
    sink.eraseMany(Seq(AffStore)) {
      selectionRetractPlan(fromTarget, fromRaw, textCol, sink)
    }

  private[ops] def selectionRetractPlan(
      fromTarget: DataFrame, fromRaw: DataFrame, textCol: String,
      sink: graft.sink.UpsertSink): Seq[graft.sink.TableErase] = {
    // the policy histogram never drops rows (dropAtZero = false), but a
    // direct delete() can still TRUNCATE it to fileless — derive no
    // retraction then instead of crashing on a schema-less read
    if (!sink.hasData(AffStore)) return Nil
    val buckets = sink.read(AffStore).count().toInt
    require(buckets > 0, "selection store is empty — build the policy first")
    val dt = bucketHist(fromTarget, textCol, buckets)
      .select(col("bucket"), col("cnt").as("ct"), lit(0L).as("cr"))
    val dr = bucketHist(fromRaw, textCol, buckets)
      .select(col("bucket"), lit(0L).as("ct"), col("cnt").as("cr"))
    Seq(graft.sink.TableCountRetract(AffStore, dt.unionByName(dr),
      Seq("bucket"), Seq("ct", "cr"), dropAtZero = false))
  }

  /** True-to-the-paper DSIR log importance weights:
    * `log ŵ(x) = Σ_grams [ln p̂_target(b) − ln p̂_raw(b)]` under
    * Laplace-smoothed hashed-ngram multinomials. Float-valued by
    * construction → spec-pinned (ranking parity with the integer
    * affinity form, repartition invariance), not oracle-hashed — the
    * same ppm-vs-ln split as the bigram LM pair (q74/q86). The raw
    * multinomial is fit on [[rawPool]] (corpus minus the target's
    * rows), matching the integer form's convention.
    *
    * Output: (idCol, n_grams int, log_w double — 0.0 for gram-less
    * documents, the empty product).
    */
  def dsirLogWeights(corpus: DataFrame, target: DataFrame, idCol: String,
                     textCol: String, buckets: Int = 1024): DataFrame = {
    val ht = bucketHist(target, textCol, buckets).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val hr = bucketHist(rawPool(corpus, target, idCol), textCol, buckets)
      .collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val nt = ht.valuesIterator.sum.toDouble
    val nr = hr.valuesIterator.sum.toDouble
    val lam = Array.tabulate[Double](buckets) { b =>
      math.log((ht.getOrElse(b, 0L) + 1.0) / (nt + buckets)) -
        math.log((hr.getOrElse(b, 0L) + 1.0) / (nr + buckets))
    }
    graft.functions.DsirFunctions.register(corpus.sparkSession)
    val toks = TextOps.tokens(col(textCol))
    val n = when(size(toks) === 0, lit(0)).otherwise(size(toks) * 2 - 1)
    corpus.select(col(idCol), n.as("n_grams"),
      graft.functions.DsirFunctions.sumAffLn(toks, lam).as("log_w"))
  }

  /** Gumbel top-k importance resampling — k draws WITHOUT replacement
    * with inclusion odds proportional to the importance weights (the
    * DSIR paper's sampling step, via the Gumbel-max trick): each
    * document's key is `log_w + Gumbel(0,1)` with the Gumbel noise
    * derived deterministically from md5(id ⊕ seed), and the k largest
    * keys win. Fully reproducible given (seed, corpus) and map-only +
    * TakeOrderedAndProject — resampling 100 TB never sorts globally.
    *
    * Output: (idCol, log_w double, sel_key double), k rows, ordered
    * (sel_key desc, id).
    */
  /** The deterministic Gumbel(0,1) noise for (id, seed): u drawn from
    * the md5-backed hash of "id:seed" on a 1e-6 grid (offset half a
    * cell so u is never 0 or 1), then the inverse-CDF transform
    * -ln(-ln u). Shared by [[dsirResample]] and the distributional
    * spec (SelectOpsSpec pins the Gumbel-max law: top-1 inclusion
    * frequencies across seeds must match softmax(log_w), top-2 the
    * Plackett-Luce inclusion probabilities), so the spec provably
    * tests the production noise, not a reimplementation.
    */
  private[graft] def gumbelNoise(id: Column, seed: Column): Column = {
    val u = (pmod(TextOps.stableHash64(
        concat(id.cast("string"), lit(":"), seed.cast("string"))),
        lit(1000000L)).cast("double") + 0.5) / 1000000.0d
    -log(-log(u))
  }

  def dsirResample(corpus: DataFrame, target: DataFrame, idCol: String,
                   textCol: String, k: Int, seed: Long,
                   buckets: Int = 1024): DataFrame = {
    val w = dsirLogWeights(corpus, target, idCol, textCol, buckets)
    w.select(col(idCol), col("log_w"),
        (col("log_w") + gumbelNoise(col(idCol), lit(seed))).as("sel_key"))
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(k)
  }

  /** [[dsirResample]] with the weight-rank agreement as a DRIVER-CHECKED
    * audit column (round-12 verdict #7): `topk_overlap_mil` — how many
    * of the k Gumbel draws also sit in the exact top-k by pure
    * `log_w`, in mil. This is the checkable middle of the resampler's
    * contract: a uniform sampler ignoring the weights reads near
    * k/corpus; a deterministic arg-top-k (no exploration — not
    * importance SAMPLING) reads 1000; a correct Gumbel top-k sits in
    * between, concentrated on heavy weights but diversified by the
    * noise. Deterministic given (seed, corpus). One weight fit feeds
    * both rankings (two TakeOrderedAndProject over the same scored
    * frame — no global sort, no second histogram pass); the overlap
    * is a bounded k-row aggregate.
    */
  def dsirResampleAudited(corpus: DataFrame, target: DataFrame,
                          idCol: String, textCol: String, k: Int,
                          seed: Long, buckets: Int = 1024): DataFrame = {
    val w = dsirLogWeights(corpus, target, idCol, textCol, buckets)
    val sel = w.select(col(idCol), col("log_w"),
        (col("log_w") + gumbelNoise(col(idCol), lit(seed))).as("sel_key"))
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(k)
      .localCheckpoint(true) // k rows; feeds the overlap agg AND the output
    val topW = w.orderBy(col("log_w").desc, col(idCol)).limit(k)
      .select(col(idCol), lit(1L).as("__top"))
    val overlap = sel.join(broadcast(topW), Seq(idCol), "left")
      .agg(sum(coalesce(col("__top"), lit(0L)))).collect()(0).getLong(0)
    sel.withColumn("topk_overlap_mil", lit(overlap * 1000L / math.max(k, 1)))
  }

  // --- CCNet perplexity bucketing ----------------------------------------

  /** The ONE language-model pass the whole perplexity family shares:
    * (idCol, lang, score_ppm) per document with at least one bigram —
    * language-ID joined to the corpus-trained integer bigram-LM score
    * ([[TextOps.bigramLmScores]]; documents with fewer than two tokens
    * have no LM score and are excluded, both engines filter
    * `n_bigrams >= 1`).
    *
    * Thresholds and bucketing BOTH consume this frame — compute it
    * once and (at scale) persist/checkpoint it, so deriving cutoffs
    * and assigning tiers costs one corpus-scale LM job, not two. The
    * (df, idCol, textCol) convenience overloads below exist for
    * one-shot calls; a pipeline that needs thresholds AND buckets
    * should go through the `…FromScored` forms.
    */
  def perplexityScored(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    TextOps.bigramLmScores(df, idCol, textCol)
      .filter(col("n_bigrams") >= 1)
      .join(df.select(col(idCol), TextOps.langId(col(textCol)).as("lang")),
        Seq(idCol))
      .select(col(idCol), col("lang"), col("score_ppm"))

  /** Exact head/middle/tail perplexity tiers per language (Wenzek et al.
    * 2020) over an already-[[perplexityScored]] frame: `ntile(3)` per
    * language ordered by (score desc, id) — head = most fluent third.
    * Tie rule: ntile SPLITS equal scores across tiers by id to keep
    * tier sizes balanced within one — the threshold path below keeps
    * tied blocks whole instead; the two forms agree exactly on
    * distinct scores and may legitimately differ inside a tied block.
    *
    * This exact form sorts each language's scores inside one window
    * partition — correct at any SF but single-reducer-per-language, so
    * it is the ORACLE form; the 100 TB path is
    * [[perplexityBucketsByThreshold]], which broadcasts per-language
    * score thresholds and buckets map-side.
    */
  def perplexityBucketsFromScored(scored: DataFrame,
                                  idCol: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("score_ppm").desc, col(idCol))
    scored.select(col(idCol), col("lang"), col("score_ppm"),
      when(ntile(3).over(w) === 1, lit("head"))
        .when(ntile(3).over(w) === 2, lit("middle"))
        .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** One-shot convenience: [[perplexityScored]] → [[perplexityBucketsFromScored]]. */
  def perplexityBuckets(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    perplexityBucketsFromScored(perplexityScored(df, idCol, textCol), idCol)

  /** Per-language score thresholds for the map-side bucketing path:
    * (lang, t_head, t_mid) where t_head ≈ 66.7th and t_mid ≈ 33.3rd
    * percentile of score_ppm. `percentile_approx` keeps the aggregate
    * single-pass and mergeable (GK sketch) — the CCNet paper itself
    * computes tier cutoffs from a sample. Output is #langs rows —
    * broadcast-sized by construction.
    */
  def perplexityThresholdsFromScored(scored: DataFrame,
                                     accuracy: Int = 10000): DataFrame =
    scored.groupBy("lang")
      .agg(
        percentile_approx(col("score_ppm"), lit(2.0 / 3.0),
          lit(accuracy)).as("t_head"),
        percentile_approx(col("score_ppm"), lit(1.0 / 3.0),
          lit(accuracy)).as("t_mid"))

  /** The 100 TB bucketing path: join the (broadcast-sized) per-language
    * threshold table and assign tiers map-side — no per-language sort,
    * no window, corpus never shuffles (the lang-key join broadcasts the
    * #langs-row side). Tier boundaries are approximate where ntile's
    * are exact; ScalaTest pins the agreement on a distinct-score
    * fixture. Tie rule: every document in a tied score block lands in
    * the SAME tier (the highest threshold the shared score clears) —
    * where ntile splits the block by id to balance tier sizes.
    *
    * A language absent from `thresholds` (possible when cutoffs were
    * fit on a sample that missed it) gets a NULL ppl_bucket — explicit
    * "no cutoffs for this language", distinguishable from a genuinely
    * disfluent tail doc; callers route nulls back through a cutoff
    * refresh rather than silently down-sampling the language.
    */
  def perplexityBucketsByThresholdFromScored(scored: DataFrame, idCol: String,
                                             thresholds: DataFrame): DataFrame =
    scored.join(broadcast(thresholds), Seq("lang"), "left")
      .select(col(idCol), col("lang"), col("score_ppm"),
        when(col("t_head").isNull, lit(null).cast("string"))
          .when(col("score_ppm") >= col("t_head"), lit("head"))
          .when(col("score_ppm") >= col("t_mid"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))

  /** One-shot convenience — NOTE this recomputes the LM pass; pair with
    * a [[perplexityScored]] frame via the `FromScored` form when the
    * same corpus also fed the thresholds.
    */
  def perplexityBucketsByThreshold(df: DataFrame, idCol: String,
                                   textCol: String,
                                   thresholds: DataFrame): DataFrame =
    perplexityBucketsByThresholdFromScored(
      perplexityScored(df, idCol, textCol), idCol, thresholds)

  // --- embedding domain-centroid selection --------------------------------

  /** Target-sample centroid, quantized to exact fixed-point so both
    * engines derive the IDENTICAL float vector: per dimension,
    * `floorDiv(Σ floor(v_d * 1000), n) / 1000` — `floor(v * 1000)` on
    * the double-widened float is the same IEEE double product and floor
    * in any engine, the sum and floor-division are integer-exact, and
    * the final /1000 → float rounding is deterministic. (A plain float
    * or double mean would depend on partition summation order — not
    * reproducible even run-to-run.)
    *
    * Plan: one posexplode + one dimension-keyed count/sum (≤ dim keys,
    * map-side combinable), collect of dim rows.
    */
  def centroidMilFloat(target: DataFrame, vecCol: String): Array[Float] = {
    val rows = target
      .select(posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy("d")
      .agg(sum(floor(col("v").cast("double") * 1000).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .collect()
    require(rows.nonEmpty, "domain centroid of an empty target sample")
    val cent = new Array[Float](rows.map(_.getInt(0)).max + 1)
    rows.foreach { r =>
      cent(r.getInt(0)) =
        (Math.floorDiv(r.getLong(1), r.getLong(2)) / 1000.0).toFloat
    }
    cent
  }

  /** Rank the pool by cosine to the target sample's centroid and keep
    * the top-k — embedding-space targeted selection. The centroid is a
    * dim-sized literal (broadcast in the plan), scoring is one map-only
    * codegen'd dot-product scan, and the top-k is
    * (cosine desc, id) → TakeOrderedAndProject — no global sort, no
    * per-row shuffle, corpus-size-independent driver state.
    *
    * Output: (idCol, cosine double rounded to 6 dp), k rows, ordered
    * (cosine desc, id) — ties at the cut broken by id so the selection
    * is deterministic and oracle-comparable (the q33 rounding
    * convention).
    */
  def domainTopK(corpus: DataFrame, target: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    val cent = centroidMilFloat(target, vecCol)
    val c = typedlit(cent.toSeq)
    corpus
      .select(col(idCol),
        round(SimOps.cosine(col(vecCol), c), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }
}
