package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{SearchOps, SelectOps, SimOps, TextOps}

/** Archive-growth audit for the incremental-store family (round-11
  * verdict #1): convert the family's headline claim — "probe/admit cost
  * never archive-scales; a daily batch screens against a 100 TB archive
  * through its compact stores without ever rescanning archive text" —
  * from scaladoc prose into a NUMBER the driver checks every round.
  *
  * Protocol, per store modality: build the store from the archive slice
  * (`id % 3 <> 0`) of the bench SF AND of its sf/10 sibling, then probe
  * the SAME sibling-SF batch (`id % 3 = 0`) against both and compare
  * the probe walls. The batch is FIXED, so the only term that can grow
  * is the store-read side. A probe that secretly re-tokenized /
  * re-hashed the archive (the thing the family exists to avoid) would
  * track the archive's 10x decade at ~10x; the honest store-read term —
  * a column-pruned, broadcast-filtered map-only scan of a compact
  * posting/inventory table — grows far slower. [[MaxRatio]] (3x per
  * 10x archive decade) separates the two regimes with headroom for the
  * scan term and box noise, and [[MinDenomSec]] keeps sub-overhead
  * probes from flagging on timer noise (same floor rationale as
  * [[ScaleSlope.MinDenomSec]]).
  *
  * Results land in the bench artifact's `store_slope` section with a
  * `store_warn` count on the stdout line; [[StoreSlopeSpec]] pins the
  * modality inventory and the judge, and measures one live decade at
  * spec-affordable scale.
  */
object StoreSlope {

  /** Probe-growth bound across one 10x ARCHIVE decade with the batch
    * fixed. An archive-rescanning probe tracks the decade (~10x); the
    * store-read term of an honest probe stays well under this.
    */
  val MaxRatio = 3.0

  /** Denominator floor: below this the small-archive probe is timer +
    * session overhead and a ratio against it would flag noise. Raised
    * 0.15 → 0.30 after round 13's false flag: the audit tail runs
    * after 125 queries × 3 passes in the same JVM, where a 0.2 s
    * denominator under end-of-bench load drew a 4.77× ratio that an
    * isolated re-measurement read as 1.21× flat — 0.30 is the observed
    * overhead floor of the cheapest probe leg in isolation, so a
    * sub-floor denominator now needs a >0.9 s big-archive wall (a real
    * archive-scaled term, not scheduler noise) to flag. Belt and
    * braces with the in-run retry ([[measure]] re-draws a flagged
    * modality once and keeps a warn only if BOTH draws flag it).
    */
  val MinDenomSec = 0.30

  /** One store modality: `build` persists the archive slice of
    * `archiveDir` into the sink; `probe` screens the batch slice of
    * `batchDir` against it; `admit` (where the modality ships one)
    * additionally FOLDS a given batch frame into the store —
    * probe + touched-bucket merge, the daily-crawl write path. All use
    * the exact catalog-query parameters (q109/q110/q111/q113/q115/
    * q116) so the audit measures the shipped shapes, not simplified
    * stand-ins.
    */
  final case class Modality(name: String,
      build: (SparkSession, String, graft.sink.UpsertSink) => Unit,
      probe: (SparkSession, String, graft.sink.UpsertSink) => DataFrame,
      admit: Option[(DataFrame, graft.sink.UpsertSink) => Unit] = None,
      erase: Option[(DataFrame, graft.sink.UpsertSink) => Unit] = None)

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
  private def arch(df: DataFrame, idCol: String): DataFrame =
    df.filter(col(idCol) % 3 =!= 0)
  private def bat(df: DataFrame, idCol: String): DataFrame =
    df.filter(col(idCol) % 3 === 0)

  /** The seven persisted-store modalities, catalog-parameter-exact. Every
    * modality now also ships its ERASE leg (round-12 verdict: the
    * eraseMany cost-model claim — O(erasure batch + touched
    * buckets), never O(store) — is exactly the kind of claim this audit
    * measures): erase a FIXED small-archive subject slice from the
    * store, both scales.
    */
  val modalities: Seq[Modality] = Seq(
    Modality("minhash",
      (s, d, k) => TextOps.minhashStoreBuild(
        arch(docs(s, d), "doc_id"), "doc_id", "text", k),
      (s, d, k) => TextOps.minhashStoreProbe(
        bat(docs(s, d), "doc_id"), "doc_id", "text", k, threshold = 0.5),
      Some((b, k) => {
        TextOps.minhashStoreAdmit(b, "doc_id", "text", k, threshold = 0.5)
        ()
      }),
      Some((subj, k) => TextOps.minhashStoreRetract(
        subj.select(col("doc_id")), "doc_id", k))),
    Modality("segment",
      (s, d, k) => TextOps.segmentStoreBuild(
        arch(docs(s, d), "doc_id"), "doc_id", "text", k),
      (s, d, k) => TextOps.segmentStoreProbe(
        bat(docs(s, d), "doc_id"), "doc_id", "text", k),
      Some((b, k) => {
        TextOps.segmentStoreAdmit(b, "doc_id", "text", k)
        ()
      }),
      Some((subj, k) =>
        TextOps.segmentStoreRetract(subj, "doc_id", "text", k))),
    Modality("fingerprint",
      (s, d, k) => TextOps.fingerprintStoreBuild(
        arch(docs(s, d), "doc_id"), "doc_id", "text", k),
      (s, d, k) => TextOps.fingerprintStoreProbe(
        bat(docs(s, d), "doc_id"), "doc_id", "text", k),
      Some((b, k) => {
        TextOps.fingerprintStoreAdmit(b, "doc_id", "text", k)
        ()
      }),
      Some((subj, k) =>
        TextOps.fingerprintStoreRetract(subj, "doc_id", "text", k))),
    Modality("substr",
      (s, d, k) => TextOps.substrStoreBuild(
        arch(docs(s, d), "doc_id"), "doc_id", "text", k),
      (s, d, k) => TextOps.substrStoreProbe(
        bat(docs(s, d), "doc_id"), "doc_id", "text", k),
      Some((b, k) => {
        TextOps.substrStoreAdmit(b, "doc_id", "text", k)
        ()
      }),
      Some((subj, k) =>
        TextOps.substrStoreRetract(subj, "doc_id", "text", k))),
    Modality("emblsh",
      (s, d, k) => SimOps.embLshStoreBuild(
        arch(emb(s, d), "vec_id"), "vec_id", "embedding", k),
      (s, d, k) => SimOps.embLshStoreProbe(
        bat(emb(s, d), "vec_id"), "vec_id", "embedding", k,
        threshold = 0.45),
      Some((b, k) => {
        SimOps.embLshStoreAdmit(b, "vec_id", "embedding", k,
          threshold = 0.45)
        ()
      }),
      Some((subj, k) => SimOps.embLshStoreRetract(
        subj.select(col("vec_id")), "vec_id", k))),
    Modality("selection",
      (s, d, k) => {
        val a = arch(docs(s, d), "doc_id")
        SelectOps.selectionStoreBuild(a,
          a.filter(col("doc_id") % 11 === 0), "doc_id", "text", k,
          buckets = 512)
      },
      (s, d, k) => SelectOps.selectionStoreScore(
        bat(docs(s, d), "doc_id"), "doc_id", "text", k, minMil = 101L),
      // the admit direction: fold the batch half into the RAW-pool
      // histogram (the policy's incremental write path; batch rows are
      // %3==0, disjoint from the archive's %11==0 target sample)
      Some((b, k) => SelectOps.selectionStoreAdmitRaw(b, "text", k)),
      // the %11==1/2 subject slices are never target members (%11==0),
      // so the whole decrement lands on the raw-pool histogram
      Some((subj, k) => SelectOps.selectionStoreRetract(
        subj.limit(0), subj, "text", k))),
    // the search SERVING layer (r14): the probe is terms-driven, not
    // batch-driven — the leg measures the per-query serving cost
    // (pushed-predicate posting scan + 1-row stats read) against the
    // archive decade, exactly the term that must stay flat
    Modality("search",
      (s, d, k) => SearchOps.invertedIndexBuild(
        arch(docs(s, d), "doc_id"), "doc_id", "text", k),
      (s, d, k) => SearchOps.invertedIndexSearch(
        Seq("vector", "merge", "stream"), k),
      Some((b, k) => SearchOps.invertedIndexAdmit(b, "doc_id", "text", k)),
      Some((subj, k) =>
        SearchOps.invertedIndexRetract(subj, "doc_id", "text", k))),
    // the dense SERVING layer (r15 brief #1): probe = the q131/q133
    // batch-broadcast sharded ADC+SQ8 path (per-query serving cost vs
    // the archive decade), admit = the streaming ingest leg
    // (shardedIndexAdd — touched shards' touched buckets only), erase =
    // shardedIndexRemove (the q128 arc). Catalog-parameter-exact
    // (q131/q133: shards=2, nlist=16, m=8, ksub=16, SQ8 stored)
    Modality("annshard",
      (s, d, k) => SimOps.buildShardedIvfPqIndex(
        arch(emb(s, d), "vec_id"), "vec_id", "embedding", k,
        shards = 2, nlist = 16, m = 8, ksub = 16, coarseIters = 1,
        storeSq8 = true),
      (s, d, k) => SimOps.shardedProbeIndex(
        bat(emb(s, d), "vec_id"), emb(s, d), "vec_id", "embedding", k,
        10, nprobe = 12, refineFromSq8 = true),
      Some((b, k) => {
        SimOps.shardedIndexAdd(b, "vec_id", "embedding", k)
        ()
      }),
      Some((subj, k) => {
        SimOps.shardedIndexRemove(subj.select(col("vec_id")), "vec_id", k)
        ()
      })))

  /** The embedding-keyed modalities (their batch/subject frames come
    * from the embeddings table, keyed vec_id).
    */
  private def vectorKeyed(m: Modality): Boolean =
    m.name == "emblsh" || m.name == "annshard"

  /** The batch frame an [[Modality.admit]] folds: half the batch slice
    * (`id % 2 = h`), so one built store affords TWO disjoint timed
    * admissions (admits mutate — min-of-2 needs disjoint halves; the
    * second admit's store is bigger by half a batch, a negligible
    * skew vs the 10x archive decade under audit).
    */
  def admitHalf(spark: SparkSession, m: Modality, batchDir: String,
                h: Int): DataFrame = {
    val (df, idCol) =
      if (vectorKeyed(m)) (emb(spark, batchDir), "vec_id")
      else (docs(spark, batchDir), "doc_id")
    bat(df, idCol).filter(col(idCol) % 2 === h)
  }

  /** The subject slice an [[Modality.erase]] retracts: archive rows of
    * the SMALL dir with `id % 11 == 1 + h` — FIXED across the decade
    * (small-dir ids are a prefix of big-dir ids, so the subjects exist
    * in both stores; an archive-proportional subject set would conflate
    * the erasure batch with the archive under audit), disjoint between
    * the two halves (erases mutate — min-of-2 needs fresh subjects),
    * never a selection-target member (`% 11 == 0`), and disjoint from
    * the admitted batch halves (`% 3 == 0`).
    */
  def eraseHalf(spark: SparkSession, m: Modality, smallDir: String,
                h: Int): DataFrame = {
    val (df, idCol) =
      if (vectorKeyed(m)) (emb(spark, smallDir), "vec_id")
      else (docs(spark, smallDir), "doc_id")
    arch(df, idCol).filter(col(idCol) % 11 === (1 + h))
  }

  /** One modality's measurement: probe, admit, and erase walls against
    * the small and big archives (same batch/subjects), the growth
    * ratios, and the flags. Since round 13 every modality ships all
    * three legs (build/probe/admit/erase — the inventory test pins
    * this), so the admit/erase Options are None only when a caller
    * explicitly strips a leg (e.g. [[probeSeconds]]).
    */
  final case class Result(name: String, tSmall: Double, tBig: Double,
                          ratio: Double, warn: Boolean,
                          tAdmitSmall: Option[Double],
                          tAdmitBig: Option[Double],
                          admitRatio: Option[Double], admitWarn: Boolean,
                          tEraseSmall: Option[Double] = None,
                          tEraseBig: Option[Double] = None,
                          eraseRatio: Option[Double] = None,
                          eraseWarn: Boolean = false,
                          retried: Boolean = false,
                          first: Option[Result] = None)

  def judge(tSmall: Double, tBig: Double): (Double, Boolean) = {
    val ratio = tBig / math.max(tSmall, MinDenomSec)
    (ratio, ratio > MaxRatio)
  }

  /** Build the store at `archiveDir` scale in a throwaway root, then
    * time the batch work against it: one untimed warm probe (file
    * listing, codegen, the selection policy collect), then min-of-2
    * probes, then — where the modality ships an admit — min-of-2
    * admissions of DISJOINT batch halves (admits mutate the store, so
    * the same rows cannot be folded twice; the second admit sees a
    * store bigger by half a batch, negligible vs the decade under
    * audit). The store build is NOT timed — build cost is
    * archive-scaled by design (paid once per archive); the family's
    * claim is about the per-batch path.
    */
  def batchSeconds(spark: SparkSession, m: Modality, archiveDir: String,
                   batchDir: String)
      : (Double, Option[Double], Option[Double]) = {
    val root = java.nio.file.Files.createTempDirectory(
      s"graft_storeslope_${m.name}")
    try {
      val sink = new graft.sink.UpsertSink(spark, root.toString,
        numBuckets = 8)
      m.build(spark, archiveDir, sink)
      def once(): Double = {
        val t0 = System.nanoTime()
        m.probe(spark, batchDir, sink)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val probeSec = math.min(once(), once())
      val admitSec = m.admit.map { adm =>
        def admitOnce(h: Int): Double = {
          val b = admitHalf(spark, m, batchDir, h)
          val t0 = System.nanoTime()
          adm(b, sink)
          (System.nanoTime() - t0) / 1e9
        }
        math.min(admitOnce(0), admitOnce(1))
      }
      // erase LAST: it mutates the store the probe/admit legs measure.
      // The subject set is always the small-dir slice (fixed across the
      // decade), so the only term that can grow is the touched-bucket
      // rewrite + the posting/decrement scan — the claim under audit.
      val eraseSec = m.erase.map { er =>
        def eraseOnce(h: Int): Double = {
          val subj = eraseHalf(spark, m, batchDir, h)
          val t0 = System.nanoTime()
          er(subj, sink)
          (System.nanoTime() - t0) / 1e9
        }
        math.min(eraseOnce(0), eraseOnce(1))
      }
      (probeSec, admitSec, eraseSec)
    } finally graft.sink.Fs.deleteRecursively(root)
  }

  /** [[batchSeconds]]'s probe leg alone — kept as the spec-facing name. */
  def probeSeconds(spark: SparkSession, m: Modality, archiveDir: String,
                   batchDir: String): Double =
    batchSeconds(spark, m.copy(admit = None, erase = None),
      archiveDir, batchDir)._1

  /** One full draw (probe + admit + erase legs, both decades) for one
    * modality.
    */
  def measureOne(spark: SparkSession, m: Modality, smallDir: String,
                 bigDir: String): Result = {
    val (tS, aS, eS) = batchSeconds(spark, m, smallDir, smallDir)
    val (tB, aB, eB) = batchSeconds(spark, m, bigDir, smallDir)
    val (ratio, warn) = judge(tS, tB)
    val admitJudged = for (s <- aS; b <- aB) yield judge(s, b)
    val eraseJudged = for (s <- eS; b <- eB) yield judge(s, b)
    Result(m.name, tS, tB, ratio, warn,
      aS, aB, admitJudged.map(_._1), admitJudged.exists(_._2),
      eS, eB, eraseJudged.map(_._1), eraseJudged.exists(_._2))
  }

  /** WARN adjudication (round-13 hardening): a flagged first draw gets
    * ONE fresh re-measurement of its whole decade, and a leg stays
    * flagged only when BOTH draws flag it — a transiently loaded box
    * (the audit tail runs after the full bench in the same JVM) draws
    * a 5x ratio on a 0.2 s denominator easily, but not twice in a row
    * on a term that is genuinely flat; a real archive-scaled term
    * flags every draw by construction. The adjudicated Result keeps
    * the SECOND draw's walls and records the first
    * ([[Result.first]]) so the artifact shows both.
    */
  def adjudicate(first: Result, second: Result): Result =
    second.copy(warn = first.warn && second.warn,
      admitWarn = first.admitWarn && second.admitWarn,
      eraseWarn = first.eraseWarn && second.eraseWarn,
      retried = true, first = Some(first))

  private def flagged(r: Result): Boolean =
    r.warn || r.admitWarn || r.eraseWarn

  /** The full audit: per modality, probe (and admit, and erase) the
    * SAME `smallDir` batch/subjects against a `smallDir`-archive store
    * and a `bigDir`-archive store (one 10x decade apart); flagged
    * modalities re-draw once and adjudicate ([[adjudicate]]).
    */
  def measure(spark: SparkSession, smallDir: String,
              bigDir: String): Seq[Result] =
    modalities.map { m =>
      val d1 = measureOne(spark, m, smallDir, bigDir)
      if (!flagged(d1)) d1
      else adjudicate(d1, measureOne(spark, m, smallDir, bigDir))
    }
}
