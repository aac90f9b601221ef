package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BpeFunctions

/** BPE subword-vocabulary LEARNING (Sennrich/Haddow/Birch, ACL 2016 —
  * the algorithm behind GPT-2/RoBERTa-style tokenizers; incremental
  * pair-count maintenance per the reference subword-nmt implementation).
  *
  * Scale split, and why it is the right one at 100 TB: the ONLY
  * corpus-proportional work is the word-frequency rollup — one
  * map-side-combined groupBy over the tokenized corpus. BPE merges are
  * then learned from the word-frequency DICTIONARY, whose size is
  * vocabulary-bounded (Heaps' law: ~|corpus|^0.5 distinct words —
  * millions of rows when the corpus is petabytes), further capped to
  * the `maxWords` most frequent entries before the driver-side merge
  * loop — exactly how published BPE learners operate (subword-nmt,
  * HuggingFace tokenizers, SentencePiece all learn from the collected
  * word-count table, never by re-scanning the corpus per merge). The
  * tail mass dropped by the cap is returned alongside the merges so
  * the trade is visible, not silent.
  *
  * Encoding back over the corpus is map-only
  * ([[graft.functions.BpeEncode]] — codegen, model parameters ride the
  * plan as a reference object).
  */
object BpeOps {

  /** Learned merge table plus the coverage the `maxWords` cap kept:
    * `keptMass / totalMass` is the fraction of corpus word OCCURRENCES
    * whose word survived the cap (the dropped tail still encodes fine —
    * down to characters plus any merges it shares with the head).
    */
  final case class BpeModel(merges: Seq[(String, String)],
                            keptWords: Long, totalWords: Long,
                            keptMass: Long, totalMass: Long)

  /** Per-word corpus frequencies — the one corpus-scale job (map-side
    * combined count over the unicode tokenizer's words).
    */
  def wordFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol), "unicode")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Learn `numMerges` BPE merges from the corpus. Deterministic: ties
    * on pair count break toward the lexicographically smallest
    * (left, right); the word-cap tie-breaks by (freq DESC, word ASC).
    * Stops early when no adjacent pair occurs at least `minFreq` times.
    */
  def learnBpe(df: DataFrame, textCol: String, numMerges: Int,
               maxWords: Int = 50000, minFreq: Long = 2): BpeModel = {
    require(numMerges > 0 && maxWords > 0)
    val wf = wordFrequencies(df, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one bounded action for the totals, one TakeOrdered for the head:
      // both driver-scale (2 longs; maxWords rows)
      val totals = wf.agg(count(lit(1)), sum("freq")).collect()(0)
      val (totalWords, totalMass) =
        (totals.getLong(0), Option(totals.get(1)).fold(0L)(_ => totals.getLong(1)))
      val head = wf.orderBy(col("freq").desc, col("word").asc)
        .limit(maxWords).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val keptMass = head.iterator.map(_._2).sum
      val merges = learnFromCounts(head, numMerges, minFreq)
      BpeModel(merges, head.length.toLong, totalWords, keptMass, totalMass)
    } finally wf.unpersist()
  }

  /** The in-memory merge loop over a (word, freq) dictionary, with
    * subword-nmt's incremental bookkeeping: a global pair-count map plus
    * a pair -> word-indices index; each chosen merge touches only the
    * words that CONTAIN the pair (their old pair contributions retract,
    * the merged form's re-add), so cost per merge is proportional to
    * the pair's support, not the dictionary.
    */
  def learnFromCounts(wordFreqs: Array[(String, Long)], numMerges: Int,
                      minFreq: Long = 2): Seq[(String, String)] = {
    import scala.collection.mutable
    // each word as its current symbol sequence; last symbol carries </w>
    val words = wordFreqs.map { case (w, _) =>
      val cps = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        cps += w.substring(i, i + n)
        i += n
      }
      if (cps.nonEmpty) cps(cps.length - 1) = cps.last + "</w>"
      cps
    }
    val freqs = wordFreqs.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def addWord(wi: Int, sign: Long): Unit = {
      val syms = words(wi)
      var j = 0
      while (j < syms.length - 1) {
        val p = (syms(j), syms(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * freqs(wi)
        if (c <= 0L) { counts.remove(p); where.get(p).foreach(_.remove(wi)) }
        else {
          counts(p) = c
          if (sign > 0) where.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        }
        j += 1
      }
    }
    words.indices.foreach(addWord(_, 1L))
    val out = mutable.ArrayBuffer.empty[(String, String)]
    var m = 0
    var done = false
    while (m < numMerges && !done) {
      // argmax by (count, then lexicographically smallest pair) — a full
      // scan of the pair map per merge; the map is dictionary-bounded
      var best: (String, String) = null
      var bestC = minFreq - 1
      counts.foreach { case (p, c) =>
        if (c > bestC || (c == bestC && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestC = c
        }
      }
      if (best == null) done = true
      else {
        out += best
        val members = where.getOrElse(best, mutable.BitSet.empty).toArray
        val mergedSym = best._1 + best._2
        members.foreach { wi =>
          addWord(wi, -1L) // retract this word's old pair contributions
          val syms = words(wi)
          var j = 0
          while (j < syms.length - 1) {
            if (syms(j) == best._1 && syms(j + 1) == best._2) {
              syms(j) = mergedSym
              syms.remove(j + 1)
            } else j += 1
          }
          addWord(wi, 1L)
        }
        m += 1
      }
    }
    out.toSeq
  }

  /** Encode a corpus against learned merges: map-only, codegen; output
    * adds `n_tokens` and the token array under `tokensAs`.
    */
  def encode(df: DataFrame, textCol: String, merges: Seq[(String, String)],
             tokensAs: String = "bpe_tokens"): DataFrame = {
    BpeFunctions.register(df.sparkSession)
    df.withColumn(tokensAs, BpeFunctions.bpeTokens(col(textCol), merges))
      .withColumn("n_tokens", size(col(tokensAs)))
  }

  /** Persisted-model table name under a sink root. */
  private val MergesTable = "bpe_merges"

  /** Persist a learned model through the sink (one atomic commit —
    * concurrent encoders never see a half-written vocabulary): one row
    * per merge (rank, left, right) plus a rank -1 stats row carrying
    * the coverage counters. The tokenizer equivalent of the ANN
    * build/probe split: train ONCE per corpus generation, encode from
    * the stored merges everywhere else.
    */
  def saveModel(sink: graft.sink.UpsertSink, model: BpeModel): Unit = {
    // the SINK's session, not SparkSession.active: a caller on a cloned
    // session's thread (foreachBatch, notebook clones) must not build
    // the merges frame on a different session than the one writing it
    val spark = sink.session
    import spark.implicits._
    val rows = model.merges.zipWithIndex.map { case ((l, r), i) =>
      (i, l, r, 0L, 0L, 0L, 0L)
    } :+ ((-1, "", "", model.keptWords, model.totalWords,
      model.keptMass, model.totalMass))
    sink.overwrite(MergesTable,
      rows.toDF("rank", "left", "right", "kept_words", "total_words",
        "kept_mass", "total_mass"),
      Seq("rank"))
  }

  /** True iff a persisted model exists under the sink root — the
    * train-once guard for serving paths (see q99).
    */
  def modelExists(sink: graft.sink.UpsertSink): Boolean =
    sink.exists(MergesTable)

  /** Read a persisted model back (merges in rank order + coverage). */
  def loadModel(sink: graft.sink.UpsertSink): BpeModel = {
    require(sink.exists(MergesTable),
      s"no $MergesTable under ${sink.rootPath} — train and saveModel first")
    val rows = sink.read(MergesTable).collect()
    val stats = rows.find(_.getInt(0) == -1).getOrElse(
      throw new IllegalStateException(s"$MergesTable has no stats row"))
    val merges = rows.filter(_.getInt(0) >= 0).sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    BpeModel(merges, stats.getLong(3), stats.getLong(4),
      stats.getLong(5), stats.getLong(6))
  }
}
