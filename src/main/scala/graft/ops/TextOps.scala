package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, language ID, quality scoring, fingerprinting, shingling,
  * MinHash, and SimHash.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * column expressions — no UDFs — so whole-stage codegen applies and the
  * operators scale linearly with partitions. Where a value must also be
  * reproducible by an external SQL oracle (fingerprints, SimHash), the
  * hash is derived from md5 (stable across engines) rather than Spark's
  * engine-specific xxhash64.
  */
object TextOps {

  /** Lowercase word tokens (letter runs). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** Tokenization with an explicit mode.
    *
    *  - `"letters"`: the default `[a-z]+` contract above — ASCII letter
    *    runs only. Every fingerprint/shingle/MinHash catalog query keeps
    *    this contract (their oracles hash ASCII code points), so its
    *    silent drop of digits/non-Latin text is a DOCUMENTED choice
    *    there, not an accident.
    *  - `"unicode"`: `[\p{L}\p{N}]+` runs — any Unicode letter or number,
    *    so digits, accented Latin, Greek, Cyrillic, CJK all survive. The
    *    class syntax sits in the RE2 ∩ java.util.regex common subset
    *    (like the PII patterns), so an external SQL oracle tokenizes
    *    byte-identically. Case-folding note: `lower` is applied in both
    *    modes; for scripts with locale-sensitive case rules callers
    *    should pre-fold — the engines' simple lowercase mappings agree
    *    on Latin/Greek/Cyrillic and leave caseless scripts untouched.
    */
  def tokens(text: Column, mode: String): Column = mode match {
    case "letters" => tokens(text)
    case "unicode" =>
      regexp_extract_all(lower(text), lit("[\\p{L}\\p{N}]+"), lit(0))
    case other =>
      throw new IllegalArgumentException(
        s"unknown token mode '$other' (expected 'letters' or 'unicode')")
  }

  /** Whitespace-delimited token count (the cheap "token counting" pass). */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** A BPE-ish subword count: word-piece runs of <=4 chars. Approximates
    * LLM token counts without a vocab file.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\\s]"),
      lit(0)))

  /** Stable 64-bit hash of a string, reproducible in ANSI SQL:
    * first 15 hex digits of md5 parsed base-16 (60 bits, positive).
    */
  def stableHash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Content fingerprint: md5 of whitespace-normalized lowercase text
    * (document fingerprinting; exact-dup key).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Canonical character stream for rolling-hash fingerprinting: lowercase
    * word tokens joined by single spaces — ASCII by construction, so
    * byte-wise hashing (WinnowHash) and code-point hashing (a SQL oracle)
    * agree.
    */
  def canonText(text: Column): Column = concat_ws(" ", tokens(text))

  /** Punctuation ratio scaled by 1000 and truncated — integer arithmetic so
    * any SQL oracle agrees bit-for-bit.
    */
  def punctRatioMil(text: Column): Column =
    floor(lit(1000) * (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9\\s]", "")))
      / greatest(length(text), lit(1))).cast("long")

  /** Stopword ratio (per-mille, integer) against a fixed tiny list. */
  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  def stopwordRatioMil(text: Column): Column = {
    val toks = tokens(text)
    // native one-pass hit count — the filter-HOF form ran interpreted
    // with the tokenizer inlined into the lambda (see MarkerGroupHits)
    val stops = element_at(
      graft.functions.MarkerFunctions.groupHits(toks, Seq(stopwords)), 1)
    floor(lit(1000) * stops / greatest(size(toks), lit(1))).cast("long")
  }

  /** Duplicate-LINE fraction (per-mille, integer) — the Gopher/
    * MassiveText duplicate-line repetition filter: repeated non-empty
    * trimmed lines over total, 0 for line-less text. Map-only builtins.
    */
  def dupLineRatioMil(text: Column): Column = {
    val ls = filter(transform(split(text, "\n"), l => trim(l)), l => l =!= lit(""))
    floor(lit(1000) * (size(ls) - size(array_distinct(ls)))
      / greatest(size(ls), lit(1))).cast("long")
  }

  /** Duplicate-WORD fraction (per-mille, integer): repeated word
    * occurrences over total words under the `[a-z]+` token contract.
    */
  def dupWordRatioMil(text: Column): Column = {
    val ws = tokens(text)
    floor(lit(1000) * (size(ws) - size(array_distinct(ws)))
      / greatest(size(ws), lit(1))).cast("long")
  }

  /** Share of the MOST FREQUENT word bigram (per-mille, integer; 0 when
    * the text has fewer than two words) — the dominant-n-gram Gopher
    * signal. Bigrams are built with builtins (zip of the token array
    * with its own tail); the mode count is the O(n) codegen
    * [[graft.functions.TopCountShareMil]] hash pass, NOT an O(n²) HOF
    * or an explode + two corpus-scale shuffles. Caller must have
    * [[graft.functions.RepetitionFunctions.register]]ed on the session.
    */
  def topBigramShareMil(text: Column): Column = {
    val ws = tokens(text)
    val m = greatest(size(ws) - 1, lit(0))
    val bg = zip_with(slice(ws, lit(1), m), slice(ws, lit(2), m),
      (a, b) => concat_ws(" ", a, b))
    graft.functions.RepetitionFunctions.topShareMil(bg).cast("long")
  }

  /** Heuristic quality score in [0,1000]: penalizes too-short docs, heavy
    * punctuation, and stopword-free (unnatural) text. Integer arithmetic.
    */
  def qualityScoreMil(text: Column): Column = {
    val lenScore = least(length(text), lit(400)) // up to 400
    val punctPenalty = least(punctRatioMil(text), lit(300)) // up to -300
    val stopScore = least(stopwordRatioMil(text) * 3, lit(300)) // up to 300
    greatest(lit(0), least(lit(1000), lenScore + stopScore + lit(300) - punctPenalty))
      .cast("long")
  }

  /** N-gram (word) shingles as distinct strings: "w1 w2 .. wn".
    *
    * Built by zipping the token array with its own shifted copies —
    * `zip_with` evaluates its array arguments once per ROW, whereas an
    * index-lambda (`transform(sequence(..), i => slice(toks, i, n))`)
    * re-evaluates the token expression per ELEMENT, which turns the
    * upstream regex tokenizer into O(words^2) work.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val grams = (1 until n).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j + 1), size(toks)),
        (a, b) => concat(a, lit(" "), b)) // concat -> null when b is null
    }
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(filter(grams, g => g.isNotNull)))
  }

  /** MinHash signatures, relational formulation: explode shingles, then one
    * groupBy(doc) with k `min(xxhash64(shingle, seed))` aggregates.
    *
    * This shape matters at scale: the shingle expression is evaluated once
    * per document (the Generate node is a projection barrier), each
    * aggregate gets map-side partial combine, and nothing ever holds a
    * k-wide expression tree per row. The alternative — k `transform`
    * lambdas over a shingle column — inlines the shingle expression k
    * times after projection collapse and runs interpreted, O(k * words)
    * regex evaluations per row.
    *
    * Output: (docCol, m0..m{k-1}: long minima). Permutation i is
    * xxhash64(shingle, i) — engine-internal is fine because signatures only
    * bucket candidates and are never compared against an oracle.
    */
  def minhashSignatures(df: DataFrame, docCol: String, text: Column, n: Int,
                        k: Int): DataFrame = {
    // hash each shingle ONCE (xxhash64 over the string), then derive the k
    // permutations by rotate-xor mixing — k-1 fewer string hashes per
    // shingle, and only overflow-free bit ops (ANSI mode would throw on
    // wrapping multiplication). Each map is a bijection of Z/2^64, which
    // is what MinHash needs; candidates are exact-verified downstream, so
    // the weaker (linear) family costs at most a few extra candidates.
    val exploded = df
      .select(col(docCol), explode(shingles(text, n)).as("__s"))
      .select(col(docCol), xxhash64(col("__s")).as("__h"))
    def rotl(c: Column, r: Int): Column =
      shiftrightunsigned(c, 64 - r).bitwiseOR(shiftleft(c, r))
    val aggs = (0 until k).map { i =>
      val r = (i * 13 + 7) % 63 + 1
      val b = (i + 1).toLong * 0x9E3779B97F4A7C15L // Scala-side wrap is fine
      min(rotl(col("__h"), r).bitwiseXOR(lit(b))).as(s"m$i")
    }
    exploded.groupBy(col(docCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact Jaccard similarity of two pre-distinct shingle arrays. Integer
    * size ratio — deterministic across engines.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  // ---- incremental near-dup: persisted MinHash store --------------------

  private[ops] val NearDupBands = "neardup_bands"
  private[ops] val NearDupShingles = "neardup_shingles"

  /** Build the PERSISTED near-dup state for an archive: LSH band
    * postings (band, doc_id) plus each document's distinct shingle set,
    * landed as ONE atomic group write (a probe can never pair one
    * generation's postings with another's shingle sets). This is the
    * state that makes archive-scale dedup INCREMENTAL: admitting a new
    * crawl batch against a 100 TB archive must not re-shingle the
    * archive — [[minhashStoreProbe]] touches only these two compact
    * tables, never the archive text.
    */
  def minhashStoreBuild(df: DataFrame, idCol: String, textCol: String,
                        sink: graft.sink.UpsertSink, n: Int = 3,
                        k: Int = 128, bands: Int = 32): Unit = {
    graft.functions.MinHashFunctions.register(df.sparkSession)
    val sh = shingles(col(textCol), n)
    sink.overwriteMany(Seq(
      graft.sink.TableWrite(NearDupBands,
        df.select(col(idCol).as("doc_id"),
          explode(graft.functions.MinHashFunctions.bandKeys(sh, k, bands))
            .as("band")),
        Seq("band", "doc_id")),
      graft.sink.TableWrite(NearDupShingles,
        df.select(col(idCol).as("doc_id"), sh.as("sh")),
        Seq("doc_id"))))
  }

  /** Probe a NEW batch against the persisted archive state: near-dup
    * pairs (a_id from the archive, b_id from the batch) with exact
    * shingle Jaccard >= `threshold`. Candidate generation and verify
    * both read ONLY the store:
    *  - the batch's band keys broadcast against the posting scan
    *    (map-only over the store — the archive side never shuffles),
    *  - the candidate (a_id, b_id) set — batch-bounded — broadcasts
    *    against the shingle-set scan, again map-only,
    *  - exact Jaccard on the candidate pairs (LSH recall argument as
    *    q29: at 128/32x4 a true j >= 0.9 pair is missed with
    *    probability (1-0.9^4)^32 ~ 1e-15).
    * `broadcastBatch = false` is the corpus-scale-batch escape hatch:
    * both joins fall back to AQE-picked shuffled strategies.
    *
    * Concurrency contract: admissions SERIALIZE per store (the sink's
    * writer lease enforces it); a probe racing a live [[minhashStoreAdmit]]
    * on the same store may transiently see the bands of a batch whose
    * shingle rows haven't merged yet (mergeMany swaps the two tables
    * concurrently, not atomically) — such candidates drop out of the
    * verify join and reappear once the admit completes. A pipeline that
    * probes between admits (the normal shape) never observes this; a
    * concurrent reader needing exactness should read under
    * `sink.snapshotMany(Seq("neardup_bands", "neardup_shingles"))`.
    * PINNED behavior (StoreConcurrencySpec): snapshotMany captures are
    * never torn across the group under a live admitter, and admissions
    * are never lost — each batch is screenable by the next probe.
    */
  def minhashStoreProbe(batch: DataFrame, idCol: String, textCol: String,
                        sink: graft.sink.UpsertSink,
                        threshold: Double = 0.5, n: Int = 3,
                        k: Int = 128, bands: Int = 32,
                        broadcastBatch: Boolean = true): DataFrame = {
    graft.functions.MinHashFunctions.register(batch.sparkSession)
    val sh = shingles(col(textCol), n)
    val bc: DataFrame => DataFrame =
      if (broadcastBatch) broadcast(_) else identity
    val batchBands = batch.select(col(idCol).as("b_id"),
      explode(graft.functions.MinHashFunctions.bandKeys(sh, k, bands))
        .as("band"))
    val cands = sink.read(NearDupBands).join(bc(batchBands), "band")
      .select(col("doc_id").as("a_id"), col("b_id")).distinct()
    sink.read(NearDupShingles).select(col("doc_id").as("a_id"),
        col("sh").as("a_sh"))
      .join(bc(cands), "a_id")
      .join(bc(batch.select(col(idCol).as("b_id"), sh.as("b_sh"))), "b_id")
      .withColumn("j", jaccard(col("a_sh"), col("b_sh")))
      .filter(col("j") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("j"), 4).as("jac"))
  }

  /** ERASE documents from the persisted near-dup state (retention /
    * right-to-erasure over the store, not just the corpus): removes
    * the ids' band postings AND shingle sets in ONE
    * [[graft.sink.UpsertSink.eraseMany]] group delete under a single
    * writer lease — a concurrent `snapshotMany` reader never captures
    * a posting whose shingle row is already gone, and later probes
    * can never surface an erased document as a candidate. The bands
    * table's merge key is (band, doc_id), so the full keys derive
    * from one filtered posting scan (map-only, erasure-batch-bounded;
    * the erased-id frame broadcast-joins against the postings) —
    * eagerly checkpointed, because that plan reads the very files the
    * delete rewrites. Key derivation runs INSIDE the eraseMany lease
    * (the thunk overload), so a concurrent admit can never slip
    * postings in between the key scan and the delete: the erasure
    * contract holds under concurrent writers, not just single-writer
    * callers.
    */
  def minhashStoreRetract(ids: DataFrame, idCol: String,
                          sink: graft.sink.UpsertSink): Unit =
    sink.eraseMany(minhashRetractTables) {
      minhashRetractPlan(ids, idCol, sink)
    }

  private[ops] def minhashRetractTables: Seq[String] =
    Seq(NearDupBands, NearDupShingles)

  /** The MinHash store's erasure payloads — derivation MUST run inside
    * an [[graft.sink.UpsertSink.eraseMany]] lease over
    * [[minhashRetractTables]] (the band-key scan reads the store a
    * concurrent admit would otherwise be mutating).
    */
  private[ops] def minhashRetractPlan(
      ids: DataFrame, idCol: String,
      sink: graft.sink.UpsertSink): Seq[graft.sink.TableErase] = {
    val keys = ids.select(col(idCol).cast("long").as("doc_id")).distinct()
    // a previously fully-erased (fileless) bands table has no postings
    // to scan for keys — and nothing to delete from; the shingle
    // delete's keys derive from `ids` alone, so it survives regardless
    // (eraseMany skips fileless members at application time)
    val bandErase =
      if (!sink.hasData(NearDupBands)) Nil
      else {
        val bandKeys = sink.read(NearDupBands)
          .join(broadcast(keys), "doc_id")
          .select(col("band"), col("doc_id"))
          .localCheckpoint(true)
        Seq(graft.sink.TableDelete(NearDupBands, bandKeys,
          Seq("band", "doc_id")))
      }
    bandErase :+ graft.sink.TableDelete(NearDupShingles,
      keys.select(col("doc_id")), Seq("doc_id"))
  }

  /** Admission step: probe the batch against the archive state, then
    * fold the batch INTO the state (one `mergeMany` round-trip, both
    * tables' touched buckets learned in one job) so the next batch
    * dedups against this one too. Returns the probe result — the pairs
    * that existed BEFORE the batch joined the archive. `admitId` makes
    * the fold exactly-once: a re-delivered admit leaves both tables
    * alone, so a document erased since stays erased.
    */
  def minhashStoreAdmit(batch: DataFrame, idCol: String, textCol: String,
                        sink: graft.sink.UpsertSink,
                        threshold: Double = 0.5, n: Int = 3,
                        k: Int = 128, bands: Int = 32,
                        admitId: Option[String] = None): DataFrame =
    // whole admission under the writer lease (reentrant into mergeMany):
    // the probe reads store files a CONCURRENT writer (an eraser) could
    // otherwise swap away mid-plan — read-modify-write serializes
    sink.writerLocked(Seq(NearDupBands, NearDupShingles)) {
    // eager localCheckpoint: the probe result is candidate-bounded but
    // its PLAN reads the store files the merge below is about to
    // rewrite — materialize it first or the returned frame dangles on
    // swapped-away parts
    val out = minhashStoreProbe(batch, idCol, textCol, sink, threshold,
      n, k, bands).localCheckpoint(true)
    val sh = shingles(col(textCol), n)
    sink.mergeMany(Seq(
      graft.sink.TableMerge(NearDupBands,
        batch.select(col(idCol).as("doc_id"),
          explode(graft.functions.MinHashFunctions.bandKeys(sh, k, bands))
            .as("band")),
        Seq("band", "doc_id"), pkUnique = true),
      graft.sink.TableMerge(NearDupShingles,
        batch.select(col(idCol).as("doc_id"), sh.as("sh")),
        Seq("doc_id"), pkUnique = true)), admitId)
    out
    }

  /** Column-level SimHash vote for one bit of a word hash. */
  private def bitVote(hv: Column, cnt: Column, bit: Int): Column =
    when(shiftright(hv, bit).bitwiseAND(lit(1L)) === 1L, cnt).otherwise(-cnt)

  /** Portable 16-bit SimHash over (word, count) pairs, md5-derived so a SQL
    * oracle reproduces it exactly: bit j of the hash of each distinct word
    * votes +count / -count; the sign of the tally sets bit j.
    *
    * Input: DataFrame with (docCol, textCol). Output: (docCol, simhash)
    * for every document with at least one `[a-z]+` token. Token-less
    * documents (pure digits/punctuation) carry NO signal for this
    * similarity and are deliberately EXCLUDED rather than assigned a
    * shared zero signature — a shared signature would declare every
    * token-less document a near-dup of every other one regardless of
    * content. Exact duplicates among them are still caught by the
    * [[fingerprint]] path, which is content-complete.
    *
    * Implemented as relational ops (explode -> groupBy) rather than one
    * mega-expression: the shuffle key is (doc, word) and scales.
    */
  def simhash(df: DataFrame, docCol: String, textCol: String): DataFrame = {
    val words = df.select(col(docCol), explode(tokens(col(textCol))).as("__w"))
      .groupBy(col(docCol), col("__w")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__hv", stableHash64(col("__w")))
    val votes = (0 until 16).map(b =>
      sum(bitVote(col("__hv"), col("__cnt"), b)).as(s"__s$b"))
    val tallies = words.groupBy(col(docCol)).agg(votes.head, votes.tail: _*)
    val hashExpr = (0 until 16).map(b =>
      when(col(s"__s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    tallies.select(col(docCol), hashExpr.cast("long").as("simhash"))
  }

  /** Hamming distance between two small hashes (for SimHash dedup). */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within hamming distance `maxDist` over the
    * 16-bit [[simhash]] signature, by hamming-ball mask join: explode side
    * A with every XOR mask of weight <= maxDist (137 masks for d<=2 over
    * 16 bits), then equi-join on `(sig ^ mask) == sig_b`. The mask IS
    * `sig_a ^ sig_b`, so each qualifying pair is found EXACTLY once — no
    * distinct pass, and the shuffle key is a signature value, never a
    * many-to-many band bucket. Output: (a_id, b_id, dist), a_id < b_id.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxDist: Int = 2): DataFrame = {
    val sig = simhash(df, idCol, textCol)
    val masks: Seq[Long] =
      (0L until (1L << 16)).filter(java.lang.Long.bitCount(_) <= maxDist)
    val a = sig.withColumn("__m", explode(array(masks.map(lit): _*)))
      .select(col(idCol).as("a_id"), col("simhash").as("a_sh"),
        col("simhash").bitwiseXOR(col("__m")).as("__key"))
    val b = sig.select(col(idCol).as("b_id"), col("simhash").as("b_sh"))
    a.join(b, col("__key") === col("b_sh") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hamming(col("a_sh"), col("b_sh")).cast("int").as("dist"))
  }

  /** Winnowing near-dup pairs: rolling-hash fingerprint sets
    * ([[graft.functions.WinnowFingerprints]], computed map-side in one
    * codegen pass), prefix-filtered candidate generation, exact overlap
    * verify `|A n B| / min(|A|,|B|) >= threshold`.
    *
    * Candidate generation is the AllPairs prefix filter adapted to the
    * overlap measure: order every document's fingerprints by global
    * document frequency (rarest first, ties on value), keep the first
    * `|s| - ceil(t*|s|) + 1` as the PREFIX, and probe prefixes against
    * the FULL posting lists. For any qualifying pair the smaller set s
    * must share `>= ceil(t*|s|)` prints with its partner, which cannot
    * all sit in s's suffix — so s's prefix hits the partner's full list
    * and recall is exactly 1. An earlier version dropped
    * high-df fingerprints from candidate gen entirely (a `maxDf` cut);
    * that missed template-heavy pairs whose shared prints are ALL common
    * (at sf0.1 one qualifying pair's rarest shared print has df 287).
    * The prefix filter keeps the hot-key blow-up bounded the same way —
    * a hot print enters a document's PREFIX only when the document has
    * nothing rarer, so hot posting lists are probed by few documents —
    * without the recall assumption.
    *
    * Scale shape: one shuffle for the df count, one per-doc regroup,
    * the prefix-vs-full equi-join on fingerprint value, then id-keyed
    * verify joins proportional to the candidate count.
    *
    * Output: (a_id, b_id, overlap), a_id < b_id, overlap rounded to 4.
    */
  def winnowNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, window: Int = 4,
                         threshold: Double = 0.6): DataFrame = {
    graft.functions.WinnowFunctions.register(df.sparkSession)
    val fps = df.select(col(idCol).as("__id"),
      graft.functions.WinnowFunctions.fingerprints(
        canonText(col(textCol)), k, window).as("__fps"))
    val ex = fps.select(col("__id"), explode(col("__fps")).as("__fp"))
    val dfreq = ex.groupBy("__fp").agg(count(lit(1)).as("__df"))
    val ordered = ex.join(dfreq, "__fp")
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__fp")))).as("__ord"),
        count(lit(1)).as("__n"))
    val prefLen = (col("__n")
      - ceil(lit(threshold) * col("__n") - lit(1e-9)) + lit(1)).cast("int")
    // positions (1-based, rarest-first order) ride along so the PPJoin
    // positional filter can drop match rows before the distinct: a match
    // at position i of the prefix side / j of the full side witnesses an
    // overlap of at most 1 + min(|a|-i, |b|-j), and overlap/min >= t
    // needs ceil(t * min(|a|,|b|)). Any qualifying pair's FIRST shared
    // print (in the global order) sits in the smaller set's prefix with
    // every other shared print after it in both lists, so that match
    // always passes — recall stays exactly 1.
    val pref = ordered
      .select(col("__id"), col("__n"),
        posexplode(slice(col("__ord"), lit(1), prefLen)))
      .select(col("__id"), col("__n"), (col("pos") + 1).as("__i"),
        col("col.__fp").as("__fp"))
    val full = ordered
      .select(col("__id"), col("__n"), posexplode(col("__ord")))
      .select(col("__id"), col("__n"), (col("pos") + 1).as("__i"),
        col("col.__fp").as("__fp"))
    val oReq = ceil(lit(threshold)
      * least(col("x.__n"), col("y.__n")) - lit(1e-9))
    // The prefix side is pinned to the SMALLER doc of each pair: the
    // min-normalized overlap needs o = ceil(t*min) shared prints, and
    // only the smaller doc's own-size prefix (|s| - ceil(t|s|) + 1 =
    // |s| - o + 1 exactly when |s| is the min) provably contains the
    // pair's first shared print — the larger doc's own-size prefix is
    // too short when sizes differ, so prefix x prefix would LOSE
    // recall here (unlike Jaccard's PPJoin, where the length filter
    // bounds the size ratio). Ordering the join by (size, id) keeps
    // recall exactly 1 while each qualifying pair surfaces from ONE
    // direction instead of two — half the match rows into the
    // distinct, the join's dominant cost on this degenerate-
    // fingerprint corpus.
    val sizeOrdered = col("x.__n") < col("y.__n") ||
      (col("x.__n") === col("y.__n") && col("x.__id") < col("y.__id"))
    val cands = pref.as("x")
      .join(full.as("y"),
        col("x.__fp") === col("y.__fp") && sizeOrdered
          && lit(1) + least(col("x.__n") - col("x.__i"),
               col("y.__n") - col("y.__i")) >= oReq)
      .select(least(col("x.__id"), col("y.__id")).as("a_id"),
        greatest(col("x.__id"), col("y.__id")).as("b_id"))
      .distinct()
    val a = fps.select(col("__id").as("a_id"), col("__fps").as("a_fps"))
    val b = fps.select(col("__id").as("b_id"), col("__fps").as("b_fps"))
    // fingerprint arrays are sorted by construction -> merge-scan
    // intersect count (codegen, zero allocation) instead of
    // array_intersect's per-row hash set: the verify stage over millions
    // of candidates is compute-bound, not GC-bound
    cands.join(a, "a_id").join(b, "b_id")
      .withColumn("ov", graft.functions.WinnowFunctions
        .sortedIntersectCount(col("a_fps"), col("b_fps"))
        .cast("double") / least(size(col("a_fps")), size(col("b_fps"))))
      .filter(col("ov") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("ov"), 4).as("overlap"))
  }

  /** Exact n-gram-Jaccard near-dup pairs via AllPairs prefix filtering
    * (Bayardo et al., WWW'07) — no signatures, no probabilistic recall:
    * order every document's shingles by a global total order (document
    * frequency asc, then gram asc), keep only the first
    * `|s| - ceil(t*|s|) + 1` grams of each document, and equi-join on
    * those prefix grams. Any pair with Jaccard >= t shares at least
    * `ceil(t*max(|a|,|b|))` grams, which cannot all fit in the suffixes,
    * so every qualifying pair surfaces as a candidate — recall is exactly
    * 1 by construction, and the final exact verify makes precision exact.
    *
    * Scale shape: the rarest-first order means the candidate join runs on
    * LOW-document-frequency grams (the hot "and the" grams sort last and
    * fall outside the prefixes of any document long enough to contain
    * them), bounding posting-list fan-out the way [[winnowNearDupPairs]]'s
    * df cut does, but without a recall assumption. Shuffles: df count,
    * per-doc regroup, candidate equi-join, verify joins — all equi-keyed.
    *
    * Output: (a_id, b_id, jac), a_id < b_id, jac rounded to 4.
    */
  def jaccardNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // everything downstream of the single shingle pass runs on 8-byte gram
    // hashes: the df count, the per-doc regroup, the candidate equi-join,
    // AND the exact verify (set sizes are identical under the hash —
    // a 64-bit collision inside one pair's union is ~1e-16; candidate-side
    // collisions can only ADD candidates). Strings never shuffle.
    val tok = df
      .select(col(idCol).as("__id"), explode(shingles(col(textCol), n)).as("__g"))
      .select(col("__id"), xxhash64(col("__g")).as("__gh"))
    val dfreq = tok.groupBy("__gh").agg(count(lit(1)).as("__df"))
    val ordered = tok.join(dfreq, "__gh")
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__gh")))).as("__ord"),
        count(lit(1)).as("__n"))
    // the 1e-9 slack guards the ceil against double rounding: e.g.
    // 0.56*25 = 14.000000000000002 in IEEE doubles, and ceil'ing that to
    // 15 would shorten the prefix by one and silently drop a qualifying
    // pair — the slack can only LENGTHEN the prefix, which is recall-safe
    val prefLen = (col("__n")
      - ceil(lit(threshold) * col("__n") - lit(1e-9)) + lit(1)).cast("int")
    // positions (1-based, within the global rarest-first order) ride along
    // for the PPJoin positional filter below
    val pref = ordered
      .select(col("__id"), col("__n"),
        posexplode(slice(col("__ord"), lit(1), prefLen)))
      .select(col("__id"), col("__n"), (col("pos") + 1).as("__i"),
        col("col.__gh").as("__gh"))
    // Two match-level filters inside the join (both recall-safe, verify
    // below is exact):
    //  - PPJoin length filter: jaccard >= t forces t*|a| <= |b| <= |a|/t,
    //    so size-incompatible pairs never materialize;
    //  - PPJoin POSITIONAL filter (Xiao et al., WWW'08): a match on the
    //    gram at position i of a / j of b can witness an overlap of at
    //    most 1 + min(|a|-i, |b|-j); jaccard >= t needs overlap >=
    //    ceil(t/(1+t) * (|a|+|b|)). For any qualifying pair, its FIRST
    //    shared gram in the global order has every other shared gram
    //    after it in BOTH lists, so that match passes — dropping the
    //    match rows that fail loses no pair, only candidate volume
    //    before the distinct.
    val oReq = ceil(lit(threshold / (1 + threshold))
      * (col("x.__n") + col("y.__n")) - lit(1e-9))
    val cands = pref.as("x")
      .join(pref.as("y"),
        col("x.__gh") === col("y.__gh") && col("x.__id") < col("y.__id")
          && col("x.__n").cast("double") >= lit(threshold) * col("y.__n") - lit(1e-9)
          && col("y.__n").cast("double") >= lit(threshold) * col("x.__n") - lit(1e-9)
          && lit(1) + least(col("x.__n") - col("x.__i"),
               col("y.__n") - col("y.__i")) >= oReq)
      .select(col("x.__id").as("a_id"), col("y.__id").as("b_id"))
      .distinct()
    // value-sorted hash sets -> merge-scan intersect count (codegen, no
    // per-row hash set); |A u B| = na + nb - |A n B|
    graft.functions.WinnowFunctions.register(df.sparkSession)
    val hsets = ordered.select(col("__id"),
      sort_array(transform(col("__ord"), p => p.getField("__gh"))).as("__hs"),
      col("__n"))
    val a = hsets.select(col("__id").as("a_id"), col("__hs").as("a_hs"), col("__n").as("a_n"))
    val b = hsets.select(col("__id").as("b_id"), col("__hs").as("b_hs"), col("__n").as("b_n"))
    cands.join(a, "a_id").join(b, "b_id")
      .withColumn("__i", graft.functions.WinnowFunctions
        .sortedIntersectCount(col("a_hs"), col("b_hs")))
      .withColumn("j", col("__i").cast("double") /
        (col("a_n") + col("b_n") - col("__i")).cast("double"))
      .filter(col("j") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("j"), 4).as("jac"))
  }

  /** Per-document distinct word-n-gram hashes: (idCol, __gh). The 8-byte
    * md5-derived hash is what travels through joins — see
    * [[contaminationHits]].
    */
  def gramHashes(d: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = d
    .select(col(idCol), explode(shingles(col(textCol), n)).as("__g"))
    .select(col(idCol), stableHash64(col("__g")).as("__gh"))

  /** Benchmark-contamination hits: for each corpus document, the number of
    * distinct word n-grams it shares with ANY benchmark document (the
    * GPT-3-style n-gram-overlap decontamination check).
    *
    * Grams travel as stable 64-bit md5 hashes, not strings — the shuffle
    * key is 8 bytes regardless of n, and an external SQL engine computes
    * the identical hash for auditing. The benchmark side is distinct-ed
    * gram hashes only (small — eval sets are; Spark broadcasts it when it
    * fits), so the corpus is never shuffled: hash, hash-join, per-doc
    * count. Output: (idCol, hits) for contaminated docs only.
    */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val bench = gramHashes(benchmark, idCol, textCol, n).select("__gh").distinct()
    gramHashes(corpus, idCol, textCol, n).join(bench, "__gh")
      .groupBy(idCol).agg(count_distinct(col("__gh")).as("hits"))
  }

  /** [[contaminationHits]] with a Bloom prefilter: the benchmark gram-hash
    * set is first compressed into a FIXED-SIZE Bloom filter (built with a
    * distributed aggregate, probed map-side in codegen —
    * [[graft.functions.BloomFunctions]]), and only corpus grams the
    * filter might contain reach the exact verify join.
    *
    * Same result as [[contaminationHits]] bit-for-bit: false positives
    * survive the prefilter but die in the exact join; negatives are never
    * false. The difference is scale posture — a broadcast of the full
    * benchmark gram set stops working when eval suites reach billions of
    * grams, while the filter costs a CHOSEN `numBits` regardless of key
    * count and the corpus-side scan stays a pure map-side pass that
    * ships only the ~fpp fraction of grams into the join. Sizing is the
    * caller's lever: under-sizing degrades fpp toward 1 (the op decays
    * to the exact join's cost, never to a wrong result) — see the
    * auto-size note in the body for the Spark conf caps involved.
    */
  def bloomContaminationHits(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String, n: Int = 5,
                             numItems: Long = -1L,
                             numBits: Long = -1L): DataFrame = {
    // eagerly materialized (it is small by assumption — it fits a bloom
    // build) so the sizing count, the filter build, and the verify join
    // don't recompute it
    val bench = gramHashes(benchmark, idCol, textCol, n)
      .select("__gh").distinct().localCheckpoint()
    // auto-size: 16 bits/key gives fpp ~5e-4 with the optimal hash count;
    // capped so the serialized filter (a plan literal, broadcast with the
    // task binary) never exceeds 8 MiB by default. Past the cap fpp
    // degrades (at ~4M+ distinct grams the default-capped filter stops
    // pruning and the op decays to q49's exact-join cost — never to a
    // wrong answer, the verify join is exact); billion-gram eval suites
    // need an explicit numBits AND a raised
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits/maxNumItems —
    // Spark's BloomFilterAggregate silently clamps both to those confs.
    val items = if (numItems > 0) numItems else math.max(4096L, bench.count())
    val bits = if (numBits > 0) numBits else math.min(items * 16L, 1L << 26)
    val blob = graft.functions.BloomFunctions.build(
      bench, col("__gh"), items, bits)
    val pre = if (blob == null) lit(false) // empty benchmark: nothing hits
      else graft.functions.BloomFunctions.mightContain(blob, col("__gh"))
    gramHashes(corpus, idCol, textCol, n).filter(pre)
      .join(bench, "__gh")
      .groupBy(idCol).agg(count_distinct(col("__gh")).as("hits"))
  }

  /** The decontaminated corpus: drop every document sharing at least
    * `minHits` distinct n-grams with the benchmark set (anti-join on the
    * contaminated-id set, which is at most |corpus| ids).
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 5,
                    minHits: Long = 1): DataFrame = {
    val bad = contaminationHits(corpus, benchmark, idCol, textCol, n)
      .filter(col("hits") >= minHits).select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Corpus keyword search with integer-exact TF-IDF ranking: per-doc
    * score = sum over query terms of `tf * idf_mil`, where
    * `idf_mil = (N * 1e6) div df` — integer division instead of `ln()`,
    * so the ranking is bit-identical across engines (no libm in the
    * hash-compared output) while preserving the rare-terms-weigh-more
    * ordering.
    *
    * Scale shape: the `isin(terms)` filter runs in the scan projection —
    * only rows containing a query term ever reach a shuffle; df is a
    * terms-sized rollup broadcast back; top-k is TakeOrdered, never a
    * global sort.
    */
  def keywordSearch(df: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String], k: Int): DataFrame = {
    // N stays inside the plan as a 1-row broadcast (no eager count():
    // the operator is lazy like every other TextOps op, and the corpus
    // is scanned once per execution, not once per construction)
    val nMil = df.agg((count(lit(1)) * lit(1000000L)).as("__nmil"))
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .filter(col("__w").isInCollection(terms))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("__w").agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfreq), "__w")
      .crossJoin(broadcast(nMil))
      .withColumn("__idf_mil", expr("__nmil div __df"))
      .groupBy(idCol)
      .agg(sum(col("__tf") * col("__idf_mil")).cast("long").as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** BM25 relevance scoring (Robertson-Spärck Jones; the Lucene
    * `+1`-inside-the-ln IDF form, which is non-negative at any df):
    *
    *   score(d) = Σ_t ln((N − df + 0.5)/(df + 0.5) + 1)
    *                · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    *
    * — [[keywordSearch]]'s integer TF-IDF upgraded with the two things
    * real retrieval ranking needs: term-frequency saturation (k1) and
    * document-length normalization (b against the corpus mean length).
    *
    * Scale shape, all corpus-size-safe: per-doc token length is a
    * map-only projection; tf touches only rows containing a query term
    * (the filter sits under the explode); df and the (N, avgdl) scalars
    * are a terms-sized and a 1-row broadcast; the length join is
    * co-keyed on the doc id. Float-valued by construction → callers
    * round to 6 dp for oracle parity (the q36 convention).
    *
    * Output: (idCol, score double) for every document matching ≥ 1
    * term. Ranking/limit is left to the caller — a top-k at a rounding
    * boundary would make the SELECTED SET float-sensitive, which is the
    * caller's call, not the scorer's.
    */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    // |d| counts the SAME token universe tf does ([a-z]+ words, not
    // whitespace chunks) — length normalization against a different
    // tokenizer would skew scores on punctuation-heavy docs
    val lens = df.select(col(idCol), size(tokens(col(textCol))).as("__dl"))
    val stats = lens.agg(count(lit(1)).cast("double").as("__n"),
      avg(col("__dl")).as("__avgdl"))
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .filter(col("__w").isInCollection(terms))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("__w").agg(count(lit(1)).cast("double").as("__df"))
    val idf = log((col("__n") - col("__df") + lit(0.5))
      / (col("__df") + lit(0.5)) + lit(1.0))
    // parenthesization mirrors the SQL oracle term-for-term — float
    // association differences would surface at the 6-dp rounding edge
    val norm = col("__tf") * lit(k1 + 1.0) /
      (col("__tf") + lit(k1) *
        (lit(1.0 - b) + lit(b) * (col("__dl") / col("__avgdl"))))
    tf.join(broadcast(dfreq), "__w")
      .crossJoin(broadcast(stats))
      .join(lens, idCol)
      .groupBy(idCol)
      .agg(sum(idf * norm).as("score"))
  }

  /** Reciprocal-Rank Fusion (Cormack, Clarke, Büttcher 2009) of two
    * rankings: each input is (idCol, score); the top `n` of each rank
    * by (score DESC, id ASC), and a document's fused score is
    * Σ_r 1/(k0 + rank_r) over the lists it appears in — the standard
    * way hybrid retrieval combines lexical (BM25) and dense/quality
    * signals without calibrating their incomparable score scales.
    *
    * Scale shape: each side reduces to its bounded top-n FIRST
    * (TakeOrdered — no global sort), so the unpartitioned rank windows
    * and the full-outer fuse join run on ≤ n rows each — driver-free
    * and corpus-size-independent past the input scorers themselves.
    * Callers ranking on float scores should pre-round them (6 dp) so
    * rank assignment cannot flip on engine-specific float ulps.
    *
    * Output: (idCol, rank_a int nullable, rank_b int nullable,
    * rrf double) for every doc in either top-n list.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              n: Int = 100, k0: Int = 60): DataFrame = {
    def ranked(df: DataFrame, rankAs: String): DataFrame = {
      val top = df.orderBy(col("score").desc, col(idCol)).limit(n)
      // unpartitioned window is safe HERE: its input is the bounded
      // top-n list, not the corpus
      top.withColumn(rankAs, row_number().over(
          Window.orderBy(col("score").desc, col(idCol))))
        .select(col(idCol), col(rankAs))
    }
    ranked(a, "rank_a").join(ranked(b, "rank_b"), Seq(idCol), "full_outer")
      .withColumn("rrf", rrfScore(k0))
  }

  /** The ONE RRF arithmetic both fusion entry points share — a missing
    * side contributes zero.
    */
  private def rrfScore(k0: Int): Column =
    coalesce(lit(1.0) / (lit(k0) + col("rank_a")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(k0) + col("rank_b")), lit(0.0))

  /** [[rrfFuse]] for a query BATCH against ONE shared ranking — the
    * batch-serving composition (q135): `shared` (idCol, score) ranks
    * once (its top-`n`, the rank_a side), `perQuery` (queryCol, idCol,
    * score) ranks WITHIN each query (rank_b, capped at `n`), and every
    * query fuses against the one shared ranking. Window inputs stay
    * BOUNDED — the shared top-n and the per-query frame (k rows per
    * query by construction at the probe), never the corpus — and the
    * shared side broadcasts into the per-query join. Same ranking and
    * arithmetic conventions as [[rrfFuse]] (score desc, id tiebreak;
    * missing side contributes zero).
    *
    * Output: (queryCol, idCol, rank_a, rank_b, rrf double) for every
    * (query, doc) in either ranking.
    */
  def rrfFuseBatch(shared: DataFrame, perQuery: DataFrame, idCol: String,
                   queryCol: String, n: Int = 100,
                   k0: Int = 60): DataFrame = {
    val wq = Window.partitionBy(col(queryCol))
      .orderBy(col("score").desc, col(idCol))
    val perQ = perQuery.withColumn("rank_b", row_number().over(wq))
      .filter(col("rank_b") <= n)
      .select(col(queryCol), col(idCol), col("rank_b"))
    val sharedTop = shared.orderBy(col("score").desc, col(idCol)).limit(n)
      .withColumn("rank_a", row_number().over(
        Window.orderBy(col("score").desc, col(idCol))))
      .select(col(idCol), col("rank_a"))
    val sharedPerQ = perQ.select(queryCol).distinct()
      .crossJoin(broadcast(sharedTop))
    perQ.join(sharedPerQ, Seq(queryCol, idCol), "full_outer")
      .withColumn("rrf", rrfScore(k0))
  }

  /** [[rrfFuse]] for a query BATCH where BOTH sides are per-query —
    * the full batch-serving fusion (r16 verdict "What's wrong #1"
    * closed: N (terms, vector) requests, each query's own lexical
    * ranking fused with its own dense ranking): `a` and `b` are
    * (queryCol, idCol, score), each ranks WITHIN its query (capped at
    * `n`), and the fuse join runs per (query, doc). Same ranking and
    * arithmetic conventions as [[rrfFuse]].
    *
    * Scale shape: the rank windows partition by query, so each window's
    * input is one query's match set — the dense side is k rows per
    * query by probe construction; the lexical side is the documents the
    * pushed term predicate admitted for that query's terms, never the
    * corpus — and the fuse join shuffles on (query, doc), the same
    * bounded exchange. Callers ranking on float scores pre-round (6 dp).
    *
    * Output: (queryCol, idCol, rank_a, rank_b, rrf double) for every
    * (query, doc) in either of that query's top-n lists.
    */
  def rrfFusePerQuery(a: DataFrame, b: DataFrame, idCol: String,
                      queryCol: String, n: Int = 100,
                      k0: Int = 60): DataFrame = {
    def ranked(df: DataFrame, rankAs: String): DataFrame = {
      val wq = Window.partitionBy(col(queryCol))
        .orderBy(col("score").desc, col(idCol))
      df.withColumn(rankAs, row_number().over(wq))
        .filter(col(rankAs) <= n)
        .select(col(queryCol), col(idCol), col(rankAs))
    }
    ranked(a, "rank_a")
      .join(ranked(b, "rank_b"), Seq(queryCol, idCol), "full_outer")
      .withColumn("rrf", rrfScore(k0))
  }

  /** Heavy hitters (top-`k` 2-grams) via bounded-memory sketches end to
    * end — at no point does a full-corpus (gram, count) exchange run:
    *
    *  1. ONE aggregation pass computes BOTH fixed-memory summaries:
    *     Spark's own `count_min_sketch` over gram hashes (eps x delta
    *     bytes per partition) and a Misra-Gries candidate summary
    *     ([[graft.functions.FreqSummary]], `capacity` entries per
    *     partition). Only the sketch buffers cross the shuffle — one per
    *     partition, size independent of the corpus.
    *  2. Exact verification re-counts ONLY the <= `capacity` candidate
    *     grams (the `isin` filter runs map-side below the exchange, so
    *     the groupBy shuffles candidate grams, never the vocabulary).
    *  3. The decoded CMS is probed for the k winners' estimates
    *     (driver-side, k rows).
    *
    * Exactness is CONDITIONAL and therefore CHECKED: Misra-Gries only
    * guarantees a gram survives when its count exceeds N/capacity, so
    * the returned top-k provably equals the exhaustive top-k iff every
    * returned count exceeds that bound (then no evicted gram could
    * outrank any returned one). The bound is verified against the CMS's
    * own totalCount and a too-flat distribution THROWS with an
    * increase-capacity message instead of returning a silently wrong
    * ranking. On skewed corpora (natural-language n-grams) the check
    * passes trivially; parity with the exhaustive computation is
    * asserted in SketchSpec.
    *
    * Output: (gram, cnt, est) — cnt exact, `est >= cnt` always (CMS
    * overcounts only; bounded in SketchSpec).
    */
  def cmsHeavyHitters(df: DataFrame, textCol: String, k: Int,
                      eps: Double = 0.0001, confidence: Double = 0.99,
                      seed: Int = 42, capacity: Int = 4096): DataFrame = {
    require(capacity >= k, s"candidate capacity $capacity < k=$k")
    val spark = df.sparkSession
    import spark.implicits._
    val grams = df.select(explode(shingles(col(textCol), 2)).as("__g"))
    val summaries = grams
      .agg(
        count_min_sketch(xxhash64(col("__g")), lit(eps), lit(confidence),
          lit(seed)).as("cms"),
        graft.functions.FreqSummary.candidates(col("__g"), capacity).as("cand"))
      .head()
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(summaries.getAs[Array[Byte]](0)))
    val mg = summaries.getStruct(1)
    val cand = mg.getSeq[String](0)
    val overflowed = mg.getBoolean(1)
    if (cand.isEmpty) return Seq.empty[(String, Long, Long)]
      .toDF("gram", "cnt", "est")
    val top = candidateExactCounts(grams, cand)
      .withColumn("__gh", xxhash64(col("__g")))
      .orderBy(col("cnt").desc, col("__g")).limit(k).collect()
    // provable-exactness gate, needed only when the summary ever evicted
    // (un-overflowed => the candidate list IS the full vocabulary):
    //  - fewer than k candidates would silently truncate the ranking
    //    (the evicted tail could have filled the missing slots), and
    //  - every returned count must beat the Misra-Gries survival bound
    //    N/capacity, else an evicted gram could have outranked one.
    // When N <= capacity nothing evicts and every input passes —
    // approximation only ever bites at scale.
    if (overflowed) {
      val survivalBound = cms.totalCount() / capacity
      val unprovable = top.filter(_.getLong(1) <= survivalBound)
      if (top.length < k || unprovable.nonEmpty)
        throw new IllegalStateException(
          s"cmsHeavyHitters: got ${top.length} candidates of which " +
            s"${unprovable.length} have counts <= N/capacity = " +
            s"$survivalBound, so the candidate summary cannot guarantee " +
            s"the exact top-$k on this distribution — increase capacity " +
            s"(currently $capacity)")
    }
    val rows = top.toSeq.map(r => (r.getString(0), r.getLong(1),
      cms.estimateCount(java.lang.Long.valueOf(r.getLong(2)))))
    rows.toDF("gram", "cnt", "est").orderBy(col("cnt").desc, col("gram"))
  }

  /** Exact counts restricted to a bounded candidate set: the filter runs
    * below the aggregation exchange, so only candidate grams shuffle.
    * Plan shape asserted in PlanShapeSpec.
    */
  private[graft] def candidateExactCounts(grams: DataFrame,
                                          cand: Seq[String]): DataFrame =
    grams.filter(col("__g").isInCollection(cand))
      .groupBy("__g").agg(count(lit(1)).as("cnt"))

  /** Segment-level exact deduplication (the C4/RefinedWeb move): chop
    * each document into fixed `segWords`-word segments, drop every
    * segment whose exact content already occurred EARLIER in the corpus
    * (global order = (doc id, segment index) — deterministic and
    * engine-portable), and rebuild documents from their surviving
    * segments. Document-level dedup (q28) misses boilerplate repeated
    * ACROSS distinct documents — headers, navigation, license blocks;
    * this is the operator that removes it.
    *
    * Scale shape: ONE tokenize+explode+md5 pass feeds everything — the
    * keeper decision is a row_number window partitioned by the segment
    * hash (equi-keyed shuffle, group size = a segment's duplication
    * count), and the per-document regroup derives n_segs, n_kept, and
    * the rebuilt text from the same exploded rows (seg indices are
    * dense, so n_segs = max(idx)+1 — no second tokenize of the corpus).
    * The only other input scan reads the id column alone, to keep docs
    * with zero segments in the output. Nothing is quadratic and no
    * driver-side state exists.
    *
    * Output per input document (total — docs whose every segment was
    * dropped, or with null/empty text, still appear):
    * (idCol, n_segs, n_kept, text_kept).
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segWords: Int = 25): DataFrame = {
    require(segWords > 0, s"segWords must be positive, got $segWords")
    // native ArrayChunks (stride = size -> disjoint segments): the
    // former index-lambda form captured the tokenize tree inside the
    // transform, re-running the regex per SEGMENT (quadratic in doc
    // length); chunking is now one pass with the token array as the
    // expression's child, and the join lambda touches only its own
    // element.
    graft.functions.ChunkFunctions.register(df.sparkSession)
    val segs = transform(
      graft.functions.ChunkFunctions.arrayChunks(
        tokens(col(textCol)), lit(segWords), lit(segWords)),
      c => concat_ws(" ", c))
    val exploded = df
      .select(col(idCol), posexplode(segs).as(Seq("seg_idx", "__seg")))
      .withColumn("__h", md5(col("__seg")))
    val w = Window.partitionBy("__h").orderBy(col(idCol), col("seg_idx"))
    val marked = exploded.withColumn("__rn", row_number().over(w))
    val perDoc = marked.groupBy(idCol)
      .agg((max(col("seg_idx")) + 1).cast("int").as("n_segs"),
        count(when(col("__rn") === 1, lit(1))).cast("int").as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__rn") === 1, struct(col("seg_idx"), col("__seg"))))),
          s => s.getField("__seg"))).as("text_kept"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segs"), lit(0)).as("n_segs"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  // ---- incremental segment dedup: persisted segment-hash store ---------

  private[ops] val SegStore = "segdedup_segs"

  /** The per-document segment rows every segment-store operation shares:
    * (id, seg_idx, __seg, __h) — one tokenize+chunk pass, md5 content
    * hash per `segWords`-word segment.
    */
  private def segRows(df: DataFrame, idCol: String, textCol: String,
                      segWords: Int): DataFrame = {
    graft.functions.ChunkFunctions.register(df.sparkSession)
    val segs = transform(
      graft.functions.ChunkFunctions.arrayChunks(
        tokens(col(textCol)), lit(segWords), lit(segWords)),
      c => concat_ws(" ", c))
    df.select(col(idCol), posexplode(segs).as(Seq("seg_idx", "__seg")))
      .withColumn("__h", md5(col("__seg")))
  }

  /** Persist an archive's segment-hash inventory: (seg_hash, cnt) — the
    * state that makes C4-style segment dedup ([[segmentDedup]])
    * INCREMENTAL: screening a new batch against a 100 TB archive's
    * boilerplate must not re-tokenize the archive. 16 bytes + a count
    * per distinct segment, the compact summary of the whole corpus.
    */
  def segmentStoreBuild(df: DataFrame, idCol: String, textCol: String,
                        sink: graft.sink.UpsertSink,
                        segWords: Int = 25): Unit =
    sink.overwrite(SegStore,
      segRows(df, idCol, textCol, segWords)
        .groupBy(col("__h").as("seg_hash"))
        .agg(count(lit(1)).as("cnt")),
      Seq("seg_hash"))

  /** Screen a NEW batch against the persisted archive inventory: drop
    * every segment whose exact content the archive has seen at least
    * `minArchiveCount` times, rebuild each batch document from the
    * survivors — (id, n_segs, n_kept, text_kept), [[segmentDedup]]'s
    * output contract. The store side never shuffles: the batch's
    * distinct segment hashes broadcast against the inventory scan
    * (map-only), and the matched set — batch-bounded — broadcasts back
    * over the batch rows. Unlike [[segmentDedup]] there is no
    * corpus-wide window at all: the archive's ordering work was paid
    * once at build time. `broadcastBatch = false` for corpus-sized
    * batches (AQE picks the join strategies).
    */
  def segmentStoreProbe(batch: DataFrame, idCol: String, textCol: String,
                        sink: graft.sink.UpsertSink, segWords: Int = 25,
                        minArchiveCount: Long = 1,
                        broadcastBatch: Boolean = true): DataFrame = {
    val bc: DataFrame => DataFrame =
      if (broadcastBatch) broadcast(_) else identity
    val rows = segRows(batch, idCol, textCol, segWords)
    val dup = sink.read(SegStore)
      .filter(col("cnt") >= minArchiveCount)
      .withColumnRenamed("seg_hash", "__h")
      .join(bc(rows.select(col("__h")).distinct()), "__h")
      .select(col("__h"), lit(true).as("__dup"))
    val perDoc = rows.join(bc(dup), Seq("__h"), "left")
      .groupBy(idCol)
      .agg((max(col("seg_idx")) + 1).cast("int").as("n_segs"),
        count(when(col("__dup").isNull, lit(1))).cast("int").as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__dup").isNull, struct(col("seg_idx"), col("__seg"))))),
          s => s.getField("__seg"))).as("text_kept"))
    batch.select(col(idCol))
      .join(bc(perDoc), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segs"), lit(0)).as("n_segs"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  // ---- incremental exact dedup: persisted fingerprint store ------------

  private[ops] val FpStore = "fingerprint_store"

  /** Persist an archive's exact-dup state: (fp, cnt) — one row per
    * distinct content [[fingerprint]], counting the archive documents
    * that carry it. 16 bytes + a count per distinct document — still
    * the smallest summary a new batch needs to exact-dedup against
    * 100 TB, and the count is what makes the store ERASABLE without
    * provenance ([[fingerprintStoreRetract]]): a distinct-fp-only
    * layout cannot tell "last holder erased — remove the row" from
    * "other documents still carry this fp — keep it".
    */
  def fingerprintStoreBuild(df: DataFrame, idCol: String, textCol: String,
                            sink: graft.sink.UpsertSink): Unit =
    sink.overwrite(FpStore,
      df.select(fingerprint(col(textCol)).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("cnt")),
      Seq("fp"))

  /** (id, dup_exact: 0/1) for a new batch — dup_exact = 1 iff the
    * document's content fingerprint already exists in the archive
    * store. Batch fingerprints broadcast against the store scan
    * (map-only); the matched set broadcasts back. Int, not boolean, so
    * downstream oracle comparisons are representation-stable.
    */
  def fingerprintStoreProbe(batch: DataFrame, idCol: String,
                            textCol: String,
                            sink: graft.sink.UpsertSink,
                            broadcastBatch: Boolean = true): DataFrame = {
    val bc: DataFrame => DataFrame =
      if (broadcastBatch) broadcast(_) else identity
    val fps = batch.select(col(idCol), fingerprint(col(textCol)).as("fp"))
    val hit = sink.read(FpStore)
      .join(bc(fps.select(col("fp")).distinct()), "fp")
      .select(col("fp"), lit(1).as("__hit"))
    fps.join(bc(hit), Seq("fp"), "left")
      .select(col(idCol), coalesce(col("__hit"), lit(0)).as("dup_exact"))
  }

  /** Admission for the exact-dup store: probe the batch against the
    * archive fingerprints, then count-merge the batch's fp counts IN
    * (the sink adds them inside the touched buckets), so the next batch
    * exact-dedups against this one too. Returns the probe result (dup
    * flags vs the PRE-admission archive). Additive ⇒ at-least-once
    * under crash-replay without `admitId`, exactly-once with it.
    */
  def fingerprintStoreAdmit(batch: DataFrame, idCol: String,
                            textCol: String,
                            sink: graft.sink.UpsertSink,
                            admitId: Option[String] = None): DataFrame =
    // whole admission under the writer lease (reentrant into the
    // merge): the probe serializes against erasers
    sink.writerLocked(Seq(FpStore)) {
    // eager localCheckpoint: the probe plan reads store files the merge
    // below rewrites
    val out = fingerprintStoreProbe(batch, idCol, textCol, sink)
      .localCheckpoint(true)
    sink.mergeMany(Seq(graft.sink.TableMerge(FpStore,
      batch.select(fingerprint(col(textCol)).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("cnt")),
      Seq("fp"), pkUnique = true, counts = Seq("cnt"))), admitId)
    out
    }

  /** ERASE documents from the fingerprint store: each erased doc
    * contributed exactly 1 to its fp's count at build time, so the
    * decrement is one map-only fingerprint pass over the erased docs'
    * text; fps whose count reaches zero — the subject was the LAST
    * (or only) holder — are physically removed, while fps shared with
    * surviving documents stay and keep flagging exact dups. Same
    * caller contract as [[segmentStoreRetract]].
    */
  def fingerprintStoreRetract(docs: DataFrame, idCol: String,
                              textCol: String,
                              sink: graft.sink.UpsertSink): Unit =
    sink.eraseMany(Seq(FpStore)) {
      fingerprintRetractPlan(docs, idCol, textCol)
    }

  private[ops] def fingerprintRetractPlan(
      docs: DataFrame, idCol: String,
      textCol: String): Seq[graft.sink.TableErase] = Seq(
    graft.sink.TableCountRetract(FpStore,
      docs.select(fingerprint(col(textCol)).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("cnt")),
      Seq("fp"), Seq("cnt")))

  /** The COMPOSED incremental admission screen — every per-document
    * gate a daily-crawl admission runs against a persisted archive, in
    * one query: quality heuristic, exact dedup (fingerprint store),
    * segment boilerplate screen (segment inventory), MinHash near-dup
    * (band + shingle store), language id. Gates are computed
    * INDEPENDENTLY (one row per batch document with every signal — the
    * operator's audit view) and `admitted` is their conjunction:
    * quality >= minQualityMil, lang == wantLang, no exact dup, no
    * near-dup at `neardupThreshold`. The archive is touched ONLY
    * through its three compact stores; the batch text is scanned a
    * bounded number of times, each map-only or broadcast-joined.
    * All gates are integer/hash-exact, so the whole composition is
    * DuckDB-oracle-checkable end to end.
    */
  def admissionScreen(batch: DataFrame, idCol: String, textCol: String,
                      sink: graft.sink.UpsertSink,
                      minQualityMil: Long = 500, wantLang: String = "en",
                      neardupThreshold: Double = 0.5,
                      segWords: Int = 25): DataFrame = {
    val bc: DataFrame => DataFrame = broadcast(_)
    val ex = fingerprintStoreProbe(batch, idCol, textCol, sink)
    val seg = segmentStoreProbe(batch, idCol, textCol, sink, segWords)
      .select(col(idCol), col("n_segs"), col("n_kept"))
    val nd = minhashStoreProbe(batch, idCol, textCol, sink,
        threshold = neardupThreshold)
      .select(col("b_id").as(idCol)).distinct()
      .withColumn("__nd", lit(1))
    batch.select(col(idCol),
        qualityScoreMil(col(textCol)).as("quality_mil"),
        langId(col(textCol)).as("lang"))
      .join(bc(ex), Seq(idCol), "left")
      .join(bc(seg), Seq(idCol), "left")
      .join(bc(nd), Seq(idCol), "left")
      .select(col(idCol), col("quality_mil"), col("lang"),
        col("dup_exact"), col("n_segs"), col("n_kept"),
        coalesce(col("__nd"), lit(0)).as("neardup_hit"))
      .withColumn("admitted",
        (col("quality_mil") >= minQualityMil &&
          col("lang") === wantLang &&
          col("dup_exact") === 0 &&
          col("neardup_hit") === 0).cast("int"))
  }

  /** Inventory RETENTION: atomically shrink the segment store to the
    * rows with `cnt >= minCount`. At 100 TB the inventory is
    * O(distinct segments) — corpus-scale — but screening only ever
    * consults rows at or above its `minArchiveCount`, and segment
    * frequency is Zipfian: the singleton tail is most of the rows and
    * none of the screening signal. Compacting to minCount = K
    * preserves [[segmentStoreProbe]] EXACTLY for every
    * `minArchiveCount >= K` (the rows it drops could never match that
    * filter) while shrinking the store by the tail's share. One
    * filtered scan into the sink's atomic whole-table swap; readers
    * never see a partial inventory. Returns (kept, dropped) row counts.
    */
  def segmentStoreCompact(sink: graft.sink.UpsertSink,
                          minCount: Long): (Long, Long) = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    sink.writerLocked(Seq(SegStore)) {
      val store = sink.read(SegStore)
      val total = store.count()
      val kept = store.filter(col("cnt") >= minCount)
      sink.overwrite(SegStore, kept, Seq("seg_hash"))
      val k = sink.read(SegStore).count()
      (k, total - k)
    }
  }

  /** Admission: screen the batch, then count-merge its segment counts
    * into the inventory (the sink adds them inside the touched buckets)
    * so the next batch screens against this one's boilerplate too.
    */
  def segmentStoreAdmit(batch: DataFrame, idCol: String, textCol: String,
                        sink: graft.sink.UpsertSink, segWords: Int = 25,
                        minArchiveCount: Long = 1,
                        admitId: Option[String] = None): DataFrame =
    // whole admission under the writer lease (reentrant into the
    // merge): the probe consults store files a concurrent eraser could
    // swap away mid-plan
    sink.writerLocked(Seq(SegStore)) {
    // eager localCheckpoint: the probe plan reads store files the merge
    // below rewrites (same hazard as minhashStoreAdmit)
    val out = segmentStoreProbe(batch, idCol, textCol, sink, segWords,
      minArchiveCount).localCheckpoint(true)
    sink.mergeMany(Seq(graft.sink.TableMerge(SegStore,
      segRows(batch, idCol, textCol, segWords)
        .groupBy(col("__h").as("seg_hash")).agg(count(lit(1)).as("cnt")),
      Seq("seg_hash"), pkUnique = true, counts = Seq("cnt"))), admitId)
    out
    }

  /** ERASE documents from the segment inventory (right-to-erasure for
    * the COUNT-store modality): re-derive the erased docs' segment
    * counts from their text — the exact contribution
    * [[segmentStoreBuild]]/[[segmentStoreAdmit]] folded in, counts
    * being additive — and subtract them through one
    * [[graft.sink.UpsertSink.eraseMany]] count retraction; rows whose
    * count reaches zero are physically removed (a seg_hash derived
    * solely from the subject's content leaves no trace). Post-retract,
    * the inventory is bit-identical to one built on the archive WITHOUT
    * the subject. Caller contract: `docs` carries the text EXACTLY as
    * admitted, with the same `segWords`, and each doc was folded in
    * exactly once (the admit contract); like the additive admit fold,
    * retraction is at-least-once under crash-replay — use the
    * erasure-id [[graft.sink.UpsertSink.eraseMany]] overload (or
    * [[graft.ops.EraseOps.eraseSubjects]], which journals its sweep
    * id) for exactly-once.
    */
  def segmentStoreRetract(docs: DataFrame, idCol: String, textCol: String,
                          sink: graft.sink.UpsertSink,
                          segWords: Int = 25): Unit =
    sink.eraseMany(Seq(SegStore)) {
      segmentRetractPlan(docs, idCol, textCol, segWords)
    }

  private[ops] def segmentRetractPlan(
      docs: DataFrame, idCol: String, textCol: String,
      segWords: Int): Seq[graft.sink.TableErase] = Seq(
    graft.sink.TableCountRetract(SegStore,
      segRows(docs, idCol, textCol, segWords)
        .groupBy(col("__h").as("seg_hash"))
        .agg(count(lit(1)).as("cnt")),
      Seq("seg_hash"), Seq("cnt")))

  /** Arbitrary-offset repeated-substring deduplication (the ExactSubstr
    * move of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): remove every token covered by a `minTokens`-token
    * window whose exact content already occurred EARLIER in the corpus
    * (global order = (doc id, window position) — deterministic and
    * engine-portable). Fixed segmentation ([[segmentDedup]]) misses
    * SHIFTED boilerplate by construction — a repeated header preceded by
    * one extra word never lands on a segment boundary. Hashing EVERY
    * `minTokens`-token window at stride 1 is offset-invariant: a repeated
    * span of M >= minTokens tokens contains M-minTokens+1 repeated
    * windows which together cover all M tokens of the later occurrence,
    * so exactly the repeated span is removed there and the first
    * occurrence survives whole. (The reference has no comparable
    * operator; this is the LLM-pipeline capability, done without the
    * suffix array the published implementation uses — gram anchors keep
    * every step equi-keyed.)
    *
    * Scale shape: ONE corpus×len-scale shuffle. Window digests come off
    * the token array map-only ([[graft.functions.GramMd5s]] — one md5
    * per position, token bytes digested in place, bit-identical to
    * `md5(array_to_string(ws[i:i+L-1], ' '))` so the SQL oracle
    * reproduces every collision), and only (id, pos, 16-byte digest)
    * rides the keeper shuffle — not tokens, not hex strings. The
    * keeper decision is a row_number window partitioned by the digest
    * (equi-keyed; group size = a window's duplication count; positions
    * without a full window never produce a digest, so no null-key
    * group forms). Duplicate starts regroup per doc and join back to
    * the source scan — DOC-granular exchanges, len× smaller than the
    * keeper — where span coverage and rebuild are again map-only
    * ([[graft.functions.CutSpans]]: one sorted-merge walk over
    * (tokens, starts)). The earlier relational form paid THREE
    * corpus×len shuffles (an id-window assembling every L-token gram
    * via a collect_list frame — an L× row-size amplification — the
    * keeper, and a second id-window for coverage); this shape pays
    * the keeper alone at position granularity and carries 16 bytes
    * per position through it.
    *
    * Output per input document (total — docs with null/empty text or
    * fully-removed content still appear):
    * (idCol, n_tokens, n_removed, text_kept).
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     minTokens: Int = 20): DataFrame = {
    require(minTokens > 0, s"minTokens must be positive, got $minTokens")
    val L = minTokens
    graft.functions.SpanFunctions.register(df.sparkSession)
    val toks = tokens(col(textCol))
    val grams = df.select(col(idCol),
      posexplode(graft.functions.SpanFunctions.gramMd5s(toks, L))
        .as(Seq("pos", "__gh")))
    val keeper = Window.partitionBy("__gh").orderBy(col(idCol), col("pos"))
    val dupStarts = grams
      .withColumn("__rn", row_number().over(keeper))
      .filter(col("__rn") > 1)
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    cutBySpans(df, idCol, textCol, dupStarts, L)
  }

  /** Shared tail of batch and incremental substring dedup:
    * (id, n_tokens, n_removed, text_kept) from docs ⟕ per-doc sorted
    * duplicate-start lists (`__starts`), the cut itself the map-only
    * [[graft.functions.CutSpans]] walk. `bc` wraps the starts side
    * (broadcast for batch-bounded probes, identity for corpus runs —
    * AQE still may).
    */
  private def cutBySpans(docs: DataFrame, idCol: String, textCol: String,
                         starts: DataFrame, minTokens: Int,
                         bc: DataFrame => DataFrame = identity): DataFrame = {
    val toks = tokens(col(textCol))
    docs.join(bc(starts), Seq(idCol), "left")
      .select(col(idCol), size(toks).as("n_tokens"),
        graft.functions.SpanFunctions.cutSpans(toks,
          coalesce(col("__starts"), typedlit(Array.empty[Int])), minTokens)
          .as("text_kept"))
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0)) -
          when(coalesce(col("text_kept"), lit("")) === "", lit(0))
            .otherwise(size(split(col("text_kept"), " "))))
          .cast("int").as("n_removed"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  // ---- incremental substring dedup: persisted window-digest store ------

  private[ops] val SubstrStore = "substr_windows"

  /** (id, pos, __gh) — one 16-byte md5 digest per full minTokens-token
    * window, computed map-only off the token array
    * ([[graft.functions.GramMd5s]]).
    */
  private def windowRows(df: DataFrame, idCol: String, textCol: String,
                         minTokens: Int): DataFrame = {
    graft.functions.SpanFunctions.register(df.sparkSession)
    df.select(col(idCol),
      posexplode(graft.functions.SpanFunctions.gramMd5s(
        tokens(col(textCol)), minTokens)).as(Seq("pos", "__gh")))
  }

  /** Persist an archive's substring-window inventory: (win_hash, cnt) —
    * 16 bytes + a count per DISTINCT minTokens-token window, the state
    * that makes arbitrary-offset substring dedup ([[substringDedup]])
    * INCREMENTAL: screening a day's crawl against a 100 TB archive must
    * not re-tokenize the archive. Per-position granularity is the price
    * of offset-invariance — the store is O(distinct windows), the same
    * order the published suffix-array ExactSubstr implementation pays
    * (~8 bytes per corpus position) — but it is paid ONCE; every probe
    * after that touches only batch-bounded data.
    */
  def substrStoreBuild(df: DataFrame, idCol: String, textCol: String,
                       sink: graft.sink.UpsertSink,
                       minTokens: Int = 20): Unit =
    sink.overwrite(SubstrStore,
      windowRows(df, idCol, textCol, minTokens)
        .groupBy(col("__gh").as("win_hash"))
        .agg(count(lit(1)).as("cnt")),
      Seq("win_hash"))

  /** Screen a NEW batch against the persisted window inventory: every
    * batch token covered by a minTokens-token window the archive has
    * seen at least `minArchiveCount` times is removed; output is
    * [[substringDedup]]'s contract on the batch — (id, n_tokens,
    * n_removed, text_kept). The store side never shuffles: the batch's
    * distinct window digests broadcast against the inventory scan
    * (map-only), the matched set — batch-bounded — broadcasts back
    * over the batch's window rows, and the span cut is the map-only
    * [[graft.functions.CutSpans]] walk. Unlike [[substringDedup]]
    * there is NO window operator at all: the archive's keeper ordering
    * was paid once at build. Batch-internal repeats are NOT screened
    * here (the family convention — [[segmentStoreProbe]] likewise);
    * run [[substringDedup]] within the batch first if that matters.
    * `broadcastBatch = false` for corpus-sized batches.
    */
  def substrStoreProbe(batch: DataFrame, idCol: String, textCol: String,
                       sink: graft.sink.UpsertSink, minTokens: Int = 20,
                       minArchiveCount: Long = 1,
                       broadcastBatch: Boolean = true): DataFrame =
    substrProbeFromRows(batch, windowRows(batch, idCol, textCol, minTokens),
      idCol, textCol, sink, minTokens, minArchiveCount, broadcastBatch)

  /** [[substrStoreProbe]] body over PRE-COMPUTED window rows, so
    * [[substrStoreAdmit]] pays the tokenize + per-position digest scan
    * once for its probe AND its count fold.
    */
  private def substrProbeFromRows(batch: DataFrame, rows: DataFrame,
                                  idCol: String, textCol: String,
                                  sink: graft.sink.UpsertSink,
                                  minTokens: Int, minArchiveCount: Long,
                                  broadcastBatch: Boolean): DataFrame = {
    val bc: DataFrame => DataFrame =
      if (broadcastBatch) broadcast(_) else identity
    val hit = sink.read(SubstrStore)
      .filter(col("cnt") >= minArchiveCount)
      .withColumnRenamed("win_hash", "__gh")
      .join(bc(rows.select(col("__gh")).distinct()), "__gh")
      .select(col("__gh"), lit(true).as("__dup"))
    val starts = rows.join(bc(hit), Seq("__gh"), "left")
      .filter(col("__dup").isNotNull)
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    cutBySpans(batch, idCol, textCol, starts, minTokens, bc)
  }

  /** [[substrStoreProbe]] then count-merge the batch's windows INTO the
    * inventory (the sink adds them inside the touched buckets), so the
    * next batch also screens against this one: cumulative admission.
    * Screen-before-fold, so a batch never dedups against itself.
    * Admissions serialize per store under the sink's writer lease.
    *
    * Delivery contract: AT-LEAST-ONCE without `admitId` — a re-delivered
    * batch (a micro-batch replayed after a crash between the merge and
    * the caller's own offset commit) double-counts its windows; with
    * `admitId` the merge commits the id with the counts and a replay is
    * a no-op. Without a stable id, where double counts matter — any
    * `minArchiveCount > 1` screen, or count-derived retention — use
    * [[substrDeltaAdmit]], whose per-(window, batch) keyed fold is
    * idempotent under re-delivery.
    */
  def substrStoreAdmit(batch: DataFrame, idCol: String, textCol: String,
                       sink: graft.sink.UpsertSink, minTokens: Int = 20,
                       minArchiveCount: Long = 1,
                       admitId: Option[String] = None): DataFrame =
    // whole admission under the writer lease (reentrant into the
    // merge): the probe serializes against erasers
    sink.writerLocked(Seq(SubstrStore)) {
    // window rows checkpointed ONCE: the probe and the count merge both
    // consume them, and the tokenize + per-position digest scan is the
    // dominant map cost of an admission
    val rows = windowRows(batch, idCol, textCol, minTokens)
      .localCheckpoint(true)
    // eager localCheckpoint: the probe plan reads store files the merge
    // below rewrites (same hazard as minhashStoreAdmit)
    val out = substrProbeFromRows(batch, rows, idCol, textCol, sink,
      minTokens, minArchiveCount, broadcastBatch = true)
      .localCheckpoint(true)
    sink.mergeMany(Seq(graft.sink.TableMerge(SubstrStore,
      rows.groupBy(col("__gh").as("win_hash")).agg(count(lit(1)).as("cnt")),
      Seq("win_hash"), pkUnique = true, counts = Seq("cnt"))), admitId)
    out
    }

  /** ERASE documents from the substring-window inventory — the
    * [[segmentStoreRetract]] move for the offset-invariant store:
    * re-derive the erased docs' window counts (their exact additive
    * contribution) and subtract; zero rows are physically removed.
    * Same caller contract: text exactly as admitted, same `minTokens`,
    * folded in exactly once; at-least-once under crash-replay — the
    * erasure-id [[graft.sink.UpsertSink.eraseMany]] overload makes it
    * exactly-once, and the delta layout
    * ([[substrDeltaRetractBatches]]) is idempotent in both directions
    * by construction.
    */
  def substrStoreRetract(docs: DataFrame, idCol: String, textCol: String,
                         sink: graft.sink.UpsertSink,
                         minTokens: Int = 20): Unit =
    sink.eraseMany(Seq(SubstrStore)) {
      substrRetractPlan(docs, idCol, textCol, minTokens)
    }

  private[ops] def substrRetractPlan(
      docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int): Seq[graft.sink.TableErase] = Seq(
    graft.sink.TableCountRetract(SubstrStore,
      windowRows(docs, idCol, textCol, minTokens)
        .groupBy(col("__gh").as("win_hash"))
        .agg(count(lit(1)).as("cnt")),
      Seq("win_hash"), Seq("cnt")))

  // ---- exactly-once substring admission: per-batch delta layout --------

  private[ops] val SubstrDelta = "substr_windows_delta"

  /** Per-(window, BATCH) delta rows for one batch: (win_hash, batch_id,
    * cnt) — the layout that makes count folding IDEMPOTENT: the fold
    * is a PK merge on (win_hash, batch_id), so a re-delivered batch
    * rewrites the same rows with the same values and no double count
    * can ever form, whatever the crash/replay interleaving. The price
    * vs [[substrStoreAdmit]]'s summed inventory is one extra store row
    * per (batch, distinct window) until [[substrDeltaCompact]] folds
    * settled batches together.
    */
  private def deltaRows(df: DataFrame, idCol: String, textCol: String,
                        batchId: Long, minTokens: Int): DataFrame =
    windowRows(df, idCol, textCol, minTokens)
      .groupBy(col("__gh").as("win_hash"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("batch_id", lit(batchId))

  /** Initialize the delta store from an archive (reserved batch id 0).
    */
  def substrDeltaBuild(df: DataFrame, idCol: String, textCol: String,
                       sink: graft.sink.UpsertSink,
                       minTokens: Int = 20): Unit =
    sink.overwrite(SubstrDelta,
      deltaRows(df, idCol, textCol, batchId = 0L, minTokens),
      Seq("win_hash", "batch_id"))

  /** [[substrStoreProbe]] semantics against the DELTA store: a batch
    * token is removed when the store's TOTAL count for a covering
    * window reaches `minArchiveCount`. The store scan stays map-only
    * (semi-join against the broadcast batch digests); only the
    * MATCHED — batch-bounded — subset is aggregated per digest.
    */
  def substrDeltaProbe(batch: DataFrame, idCol: String, textCol: String,
                       sink: graft.sink.UpsertSink, minTokens: Int = 20,
                       minArchiveCount: Long = 1,
                       broadcastBatch: Boolean = true): DataFrame =
    substrDeltaProbeFromRows(batch,
      windowRows(batch, idCol, textCol, minTokens), idCol, textCol,
      sink, minTokens, minArchiveCount, broadcastBatch)

  private def substrDeltaProbeFromRows(batch: DataFrame, rows: DataFrame,
                                       idCol: String, textCol: String,
                                       sink: graft.sink.UpsertSink,
                                       minTokens: Int,
                                       minArchiveCount: Long,
                                       broadcastBatch: Boolean): DataFrame = {
    val bc: DataFrame => DataFrame =
      if (broadcastBatch) broadcast(_) else identity
    val hit = sink.read(SubstrDelta)
      .withColumnRenamed("win_hash", "__gh")
      .join(bc(rows.select(col("__gh")).distinct()), "__gh")
      .groupBy("__gh").agg(sum(col("cnt")).as("__total"))
      .filter(col("__total") >= minArchiveCount)
      .select(col("__gh"), lit(true).as("__dup"))
    val starts = rows.join(bc(hit), Seq("__gh"), "left")
      .filter(col("__dup").isNotNull)
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    cutBySpans(batch, idCol, textCol, starts, minTokens, bc)
  }

  /** EXACTLY-ONCE cumulative admission: probe, then fold this batch's
    * deltas keyed (win_hash, `batchId`). Re-delivering the same
    * (batch, batchId) — the crash-replay case [[substrStoreAdmit]]'s
    * additive fold double-counts — merges byte-identical rows, so the
    * store converges to the same state however many times the batch
    * is replayed. Caller contract: batchId is the STREAM's batch
    * identity (e.g. Structured Streaming's foreachBatch id, plus 1 to
    * clear the reserved archive id 0) and a given id always carries
    * the same rows. Screen-before-fold, so a batch never dedups
    * against itself; admissions serialize under the writer lease.
    */
  def substrDeltaAdmit(batch: DataFrame, idCol: String, textCol: String,
                       sink: graft.sink.UpsertSink, batchId: Long,
                       minTokens: Int = 20,
                       minArchiveCount: Long = 1): DataFrame = {
    require(batchId > 0, s"batchId must be > 0 (0 is the archive), got $batchId")
    sink.writerLocked(Seq(SubstrDelta)) {
      val rows = windowRows(batch, idCol, textCol, minTokens)
        .localCheckpoint(true)
      val out = substrDeltaProbeFromRows(batch, rows, idCol, textCol, sink,
        minTokens, minArchiveCount, broadcastBatch = true)
        .localCheckpoint(true)
      val deltas = rows
        .groupBy(col("__gh").as("win_hash"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("batch_id", lit(batchId))
      sink.merge(SubstrDelta, deltas, Seq("win_hash", "batch_id"),
        pkUnique = true)
      out
    }
  }

  /** Retention for the delta store: fold every batch with
    * `batch_id <= settledBefore` into the archive row (batch id 0) —
    * one summed row per window — and keep later batches' deltas
    * as-is. Probe-preserving exactly (totals unchanged); run it only
    * for batches past any possible re-delivery horizon, because a
    * batch folded into the archive loses its idempotency key.
    * Returns (rows_before, rows_after).
    */
  def substrDeltaCompact(sink: graft.sink.UpsertSink,
                         settledBefore: Long): (Long, Long) =
    sink.writerLocked(Seq(SubstrDelta)) {
      val store = sink.read(SubstrDelta)
      val before = store.count()
      val settled = store.filter(col("batch_id") <= settledBefore)
        .groupBy("win_hash").agg(sum(col("cnt")).as("cnt"))
        .withColumn("batch_id", lit(0L))
      val live = store.filter(col("batch_id") > settledBefore)
      sink.overwrite(SubstrDelta,
        settled.unionByName(live.select("win_hash", "cnt", "batch_id")),
        Seq("win_hash", "batch_id"))
      (before, sink.read(SubstrDelta).count())
    }

  /** The subjects→containing-batches resolution for the delta store: the
    * batch ids whose delta rows intersect the subjects' window set —
    * i.e. every batch that could carry a subject's contribution. A
    * SUPERSET by construction: a (win_hash, batch_id) row aggregates
    * across the batch's documents, so a window shared between a subject
    * and a bystander maps to batches that may hold only the bystander's
    * copies — the safe direction for a compliance sweep (erase the
    * batches via [[substrDeltaRetractBatches]] and re-admit survivors,
    * or audit them by hand). Batch id 0 (the compacted archive row) is
    * reported too when it matches — those windows' batch identity is
    * gone ([[substrDeltaCompact]]) and only a rebuild can erase them.
    * Bounded driver result: one id per admitted batch at most. The scan
    * is the probe shape (broadcast subject windows against the
    * column-pruned store scan), map-only.
    */
  def substrDeltaContainingBatches(docs: DataFrame, idCol: String,
                                   textCol: String,
                                   sink: graft.sink.UpsertSink,
                                   minTokens: Int = 20): Seq[Long] = {
    if (!sink.hasData(SubstrDelta)) return Seq.empty
    val subjWins = windowRows(docs, idCol, textCol, minTokens)
      .select(col("__gh").as("win_hash")).distinct()
    sink.read(SubstrDelta)
      .join(broadcast(subjWins), "win_hash")
      .select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  /** BATCH-granularity erasure for the delta store: physically delete
    * every (win_hash, batch_id) row of the given batches — EXACTLY
    * their admitted contribution, because the delta layout keeps each
    * batch's counts in its own rows (this is the same property that
    * makes the fold idempotent). Unlike the count-store retractions,
    * this is idempotent in the erase direction too: re-running deletes
    * nothing further. The granularity is the batch, not the document —
    * the per-batch counts aggregate across the batch's documents;
    * subject-level erasure in this modality means erasing the batches
    * that carried the subject (or re-admitting them minus the
    * subject). Batches already folded into the archive row by
    * [[substrDeltaCompact]] (batch id 0) have lost their identity and
    * cannot be erased this way — retract before compacting, exactly
    * like the re-delivery horizon. Keys derive inside the delete
    * lease; the store scan is map-only and the key set is bounded by
    * the batches' distinct windows.
    */
  def substrDeltaRetractBatches(sink: graft.sink.UpsertSink,
                                batchIds: Seq[Long]): Unit = {
    require(batchIds.nonEmpty, "need at least one batch id to retract")
    require(!batchIds.contains(0L),
      "batch id 0 is the compacted archive row — it aggregates settled " +
        "batches and cannot be retracted at batch granularity")
    sink.eraseMany(Seq(SubstrDelta)) {
      val keys = sink.read(SubstrDelta)
        .filter(col("batch_id").isin(batchIds: _*))
        .select(col("win_hash"), col("batch_id"))
        .localCheckpoint(true)
      Seq(graft.sink.TableDelete(SubstrDelta, keys,
        Seq("win_hash", "batch_id")))
    }
  }

  /** Language-ID heuristic: per-language stopword hit counts; argmax with
    * deterministic tie-break on language code order. Counts are integers ->
    * oracle-reproducible.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "de" -> Seq("der", "und", "die", "ist", "das"),
    "es" -> Seq("el", "los", "que", "es", "las"),
    "fr" -> Seq("le", "les", "est", "et", "dans"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo"))

  /** Best-guess language: highest marker-hit count, ties -> 'und'ecided
    * unless one language strictly wins.
    */
  def langId(text: Column): Column = {
    val langs = langMarkers.keys.toSeq.sorted
    // ONE expression node: count + argmax + tie rule all inside
    // LangGuess (the counts-column formulation fanned the counting
    // subtree into a when/greatest/coalesce tree ~60 references wide —
    // fine under ProjectExec subexpression elimination, re-evaluated
    // per reference inside FILTER predicates, which get no CSE)
    graft.functions.MarkerFunctions.langGuess(
      tokens(text), langs.map(langMarkers), langs)
  }

  // --- PII detection / redaction ----------------------------------------

  /** PII patterns, shared by [[piiCounts]] and [[redactPii]]. Deliberately
    * kept in the RE2 ∩ java.util.regex COMMON SUBSET — no lookaround, no
    * backreferences, explicit `[0-9]` instead of `\d` — so a DuckDB/RE2
    * oracle running the same pattern text produces byte-identical
    * matches (for pure-regular patterns RE2's leftmost-greedy semantics
    * equal Java's backtracking). The phone pattern starts at `\+`
    * without a word boundary on purpose: `+` is a non-word char, so
    * `\b\+` would never match after a space.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{1,3}[0-9 -]{6,12}[0-9]"

  /** Per-type PII match counts: (n_email, n_phone, n_ip) columns. Pure
    * per-row codegen'd expressions — at 100 TB this is a map-only scan,
    * no shuffle, no UDF.
    */
  def piiCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit(EmailRe)).as("n_email"),
    regexp_count(text, lit(PhoneRe)).as("n_phone"),
    regexp_count(text, lit(Ipv4Re)).as("n_ip"))

  /** Mask every PII match with a typed placeholder. Email first (its
    * matches may contain digit runs the other patterns would then
    * mis-hit), then IPs, then phones; each pass replaces ALL matches
    * (Spark regexp_replace is global, = RE2 'g').
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  // --- boilerplate line filtering ---------------------------------------

  /** The lines of a newline-separated document. A document with no
    * newline is one line; null propagates.
    */
  def docLines(text: Column): Column = split(text, "\n")

  /** Line-level boilerplate filtering (the jusText/trafilatura move,
    * relationally): keep the lines `keep` accepts, drop the rest,
    * rebuild the document. Row-local higher-order functions — no
    * explode, no shuffle, so at 100 TB this stays a map-only scan no
    * matter how many lines a document has.
    */
  def filterLines(text: Column, keep: Column => Column): Column =
    array_join(filter(docLines(text), keep), "\n")

  /** Canned boilerplate signal: a line is content iff it has at least
    * `minWords` word tokens — navigation/footer fragments are short.
    * (Stopword-density predicates compose the same way via
    * [[stopwordRatioMil]]; word count is the signal that discriminates
    * on a words-only corpus.)
    */
  def contentLine(minWords: Int): Column => Column =
    line => size(tokens(line)) >= minWords

  // --- corpus-trained language-model quality scoring --------------------

  /** Hashed-feature linear classifier margin — the fastText-style
    * quality-classifier APPLICATION shape (CCNet/LLaMA pipelines score
    * every document with a linear model over hashed bag-of-words
    * features): each token hashes into one of `buckets` feature
    * buckets, `weightOf` maps the bucket to an integer weight, and the
    * margin is the sum over the document's tokens. Entirely row-local
    * (one `aggregate` HOF over the token array — no explode, no
    * shuffle, no UDF): applying a trained classifier to 100 TB is a
    * map-only scan.
    *
    * The hash is [[stableHash64]] (md5-based) so an external SQL oracle
    * reproduces bucket ids exactly; weights are integers for the same
    * reason (a trained model's float coefficients quantize to fixed
    * point without changing the argmax/threshold semantics).
    */
  def hashedLinearMargin(text: Column, weightOf: Column => Column,
                         buckets: Int = 4096): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + weightOf(pmod(stableHash64(t), lit(buckets))))

  /** Deterministic stand-in weight table for [[hashedLinearMargin]]
    * (Knuth-hash spread over [-500, 500]) — the documented FAKE-weights
    * counterpart of a trained model's coefficient array (swap in
    * `element_at(typedLit(coeffs), bucket + 1)` for real weights; the
    * plan shape is identical).
    */
  def pseudoWeight(bucket: Column): Column =
    pmod(bucket * lit(2654435761L), lit(1001L)) - 500L

  /** Bigram language-model quality score, trained on the corpus itself —
    * the CCNet/KenLM perplexity-filter shape without the external model:
    * unigram and bigram counts aggregate corpus-wide (map-side partial,
    * vocab-sized results), each document's bigrams join their
    * Laplace-smoothed conditional probability, and the per-document
    * aggregate flags disfluent outliers.
    *
    * The score is an INTEGER probability proxy: per bigram
    * `ppm = (1e6 * (c12 + 1)) div (c1 + V)` (Laplace-smoothed
    * P(w2|w1) in parts-per-million, floor division), per document the
    * integer mean of its bigram ppms. All-integer arithmetic is exact
    * in any engine — an external SQL oracle reproduces it bit-for-bit,
    * which `ln`-space perplexity (the drop-in variant: `log` instead of
    * the ppm ratio, geometric instead of arithmetic mean — same plan,
    * same joins) cannot promise across float implementations.
    *
    * Scale shape: two vocab-keyed count shuffles (unigram, bigram), two
    * co-keyed probability joins, one per-document aggregate; the vocab
    * scalar V rides a 1-row broadcast. Nothing is corpus-cardinality in
    * driver memory.
    *
    * Output: (idCol, n_bigrams int, score_ppm bigint — null for
    * documents with fewer than two tokens).
    */
  def bigramLmScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val per = bigramProbTerms(df, idCol, textCol)
      .select(col(idCol), expr("(1000000 * (c12 + 1)) div (c1 + vs)").as("ppm"))
    val sc = per.groupBy(idCol)
      .agg(count(lit(1)).as("nb"), sum("ppm").as("sp"))
    df.select(col(idCol)).join(sc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("nb"), lit(0L)).cast("int").as("n_bigrams"),
        expr("CAST(sp div nb AS BIGINT)").as("score_ppm"))
  }

  /** ln-space variant of [[bigramLmScores]] — the shape every KenLM-style
    * perplexity filter actually ships: per bigram
    * `ln P(w2|w1) = ln(c12+1) - ln(c1+V)` (same Laplace smoothing), per
    * document the MEAN log-probability (the geometric mean of the
    * probabilities) and its perplexity `exp(-mean)`. Identical count/join
    * subtree to the ppm variant ([[bigramProbTerms]]) — only the final
    * per-bigram projection and aggregate differ — so the scale shape is
    * the same two vocab-keyed shuffles. Float-valued by construction, so
    * it is spec-tested (ranking parity with the integer ppm score) rather
    * than oracle-hashed.
    *
    * Output: (idCol, n_bigrams int, avg_ln_p double, perplexity double —
    * nulls for documents with fewer than two tokens).
    */
  def bigramLmScoresLn(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val per = bigramProbTerms(df, idCol, textCol)
      .select(col(idCol),
        (log(col("c12") + lit(1.0)) - log(col("c1") + col("vs"))).as("__lnp"))
    val sc = per.groupBy(idCol)
      .agg(count(lit(1)).as("nb"), sum("__lnp").as("sl"))
    df.select(col(idCol)).join(sc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("nb"), lit(0L)).cast("int").as("n_bigrams"),
        (col("sl") / col("nb")).as("avg_ln_p"),
        exp(-(col("sl") / col("nb"))).as("perplexity"))
  }

  /** Shared subtree of the bigram LM scorers: one row per bigram
    * OCCURRENCE carrying its corpus counts — (idCol, w1, w2, c12 bigram
    * count, c1 unigram count, vs vocab size). Two vocab-keyed count
    * shuffles + two co-keyed joins; the vocab scalar rides a 1-row
    * broadcast, exactly as before the ln/ppm split.
    */
  private def bigramProbTerms(df: DataFrame, idCol: String,
                              textCol: String): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__w"))
    val pairLen = greatest(size(col("__w")) - 1, lit(0))
    val bigs = toks.select(col(idCol), explode(zip_with(
        slice(col("__w"), lit(1), pairLen),
        slice(col("__w"), lit(2), pairLen),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1"), col("__bg.w2"))
    val uni = toks.select(explode(col("__w")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.select(count(lit(1)).as("vs"))
    val big = bigs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    bigs.join(big, Seq("w1", "w2")).join(uni, Seq("w1"))
      .crossJoin(vocab)
  }
}
