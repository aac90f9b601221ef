package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINING for the hashed-feature quality classifier whose
  * APPLICATION shape ships as [[TextOps.hashedLinearMargin]] (q79, the
  * fastText/CCNet move): distributed logistic regression over hashed
  * token-count features, so the weights a pipeline applies map-only at
  * 100 TB can also be LEARNED on the same engine from labeled docs
  * (CCNet trains exactly such a classifier on Wikipedia-vs-crawl
  * labels; fastText's supervised mode is the same bag-of-hashed-ngrams
  * linear model).
  *
  * Scale shape per iteration — the honest cost of batch gradient
  * descent, and all of it relational:
  *  - margins are MAP-ONLY: the weight vector rides the plan as a
  *    `buckets`-element array literal, each doc folds
  *    `w[hash(token) mod buckets]` over its tokens with the same
  *    `aggregate` HOF as the q79 apply (train/apply feature parity by
  *    construction — same tokenizer, same hash, same bucket count);
  *  - the gradient is ONE shuffle keyed on the bucket id (at most
  *    `buckets` + 1 groups), residuals summed as DECIMALs so the
  *    update is EXACT and therefore deterministic at any parallelism
  *    (the [[SimOps.trainCentroids]] discipline — double sums would
  *    make the trained weights drift run-to-run);
  *  - the collected gradient is `buckets` + 1 rows per iteration —
  *    driver-bounded like every quantizer/codebook collect here.
  * Nothing corpus-sized ever reaches the driver; iterations scan the
  * corpus, which is what LR training costs everywhere (subsample
  * upstream to trade fidelity for passes).
  */
object ClassifierOps {

  /** A trained model: `weights(b)` for hashed bucket b, plus bias. */
  final case class HashedLinearModel(weights: Array[Double], bias: Double) {
    require(weights.nonEmpty)

    /** Margin column for `text` under this model — the q79 apply shape
      * made fully codegen: one [[graft.functions.HashedTokenMargin]]
      * pass over the token array (the HOF fold ran every per-token md5
      * interpreted), coefficients riding the generated class as one
      * double[] reference object. Fold order (bias, then tokens left
      * to right) matches the HOF form bit-for-bit. Registration is
      * self-serve: the expression resolves via a registered function,
      * and a model can legitimately outlive the session that trained
      * it (direct construction, cross-session apply), so this
      * registers idempotently on the ACTIVE session instead of
      * trusting that [[trainHashedClassifier]]/[[loadModel]] ran on
      * the session about to analyze the plan.
      */
    def margin(text: Column): Column = {
      graft.functions.MarginFunctions.register(
        org.apache.spark.sql.SparkSession.active)
      graft.functions.MarginFunctions.tokenMargin(
        TextOps.tokens(text), weights, bias)
    }

    /** P(label = 1) under the model (sigmoid of the margin). */
    def probability(text: Column): Column =
      lit(1.0) / (lit(1.0) + exp(-margin(text)))
  }

  /** Batch-gradient logistic regression. `labelCol` must be 0/1.
    * Deterministic: decimal gradient sums, fixed iteration count,
    * driver-side float updates in bucket order.
    */
  def trainHashedClassifier(docs: DataFrame, textCol: String,
                            labelCol: String, buckets: Int = 4096,
                            iters: Int = 12, lr: Double = 0.5,
                            l2: Double = 1e-4): HashedLinearModel = {
    require(buckets > 0 && iters > 0)
    graft.functions.MarginFunctions.register(docs.sparkSession)
    // (label, bucket list) once per doc; cached across iterations —
    // tokenize/hash is iteration-invariant work
    val feats = docs.select(col(labelCol).cast("double").as("__y"),
        transform(TextOps.tokens(col(textCol)), t =>
          pmod(TextOps.stableHash64(t), lit(buckets)).cast("int"))
          .as("__bs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = feats.count().toDouble // also materializes the cache
      require(n > 0, "cannot train on an empty corpus")
      val w = new Array[Double](buckets)
      var bias = 0.0
      for (_ <- 1 to iters) {
        // codegen BucketMargin over the cached bucket arrays — the HOF
        // fold walked the expression tree per token, every iteration
        val margin = graft.functions.MarginFunctions
          .bucketMargin(col("__bs"), w.clone(), bias)
        // residual = sigma(margin) - y; per-token gradient contribution
        // IS the doc residual (count features), so one explode + one
        // bucket-keyed decimal sum is the whole gradient. Bucket -1
        // carries the bias gradient (every doc contributes once).
        val resid = (lit(1.0) / (lit(1.0) + exp(-margin)) - col("__y"))
          .cast("decimal(30,15)")
        val grad = feats
          .select(resid.as("__r"),
            concat(col("__bs"), array(lit(-1))).as("__bs1"))
          .select(col("__r"), explode(col("__bs1")).as("__b"))
          .groupBy("__b").agg(sum(col("__r")).as("__g"))
          .collect()
        val g = new Array[Double](buckets)
        var gb = 0.0
        grad.foreach { r =>
          val b = r.getInt(0)
          val v = r.getDecimal(1).doubleValue()
          if (b < 0) gb = v else g(b) = v
        }
        var b = 0
        while (b < buckets) {
          w(b) -= lr * (g(b) / n + l2 * w(b))
          b += 1
        }
        bias -= lr * (gb / n)
      }
      HashedLinearModel(w, bias)
    } finally feats.unpersist()
  }

  /** Persisted-model table name under a sink root. */
  private val WeightsTable = "classifier_weights"

  /** Persist a trained model through the sink (one atomic commit, the
    * [[graft.ops.BpeOps.saveModel]] lifecycle): one row per bucket
    * weight plus a bucket -1 bias row. Train once per corpus
    * generation; every applier loads the same coefficients.
    */
  def saveModel(sink: graft.sink.UpsertSink, model: HashedLinearModel): Unit = {
    val spark = sink.session
    import spark.implicits._
    val rows = model.weights.toIndexedSeq.zipWithIndex
      .map { case (w, b) => (b, w) } :+ ((-1, model.bias))
    sink.overwrite(WeightsTable, rows.toDF("bucket", "w"), Seq("bucket"))
  }

  /** True iff a persisted model exists under the sink root — the
    * train-once guard for serving paths (see q99).
    */
  def modelExists(sink: graft.sink.UpsertSink): Boolean =
    sink.exists(WeightsTable)

  /** Read a persisted model back (weights in bucket order + bias).
    * Validates completeness loudly: the bucket COUNT is the hashing
    * modulus (`margin` uses weights.length), so a table missing rows
    * would not just zero some weights — it would silently remap every
    * token to a different bucket.
    */
  def loadModel(sink: graft.sink.UpsertSink): HashedLinearModel = {
    graft.functions.MarginFunctions.register(sink.session)
    require(sink.exists(WeightsTable),
      s"no $WeightsTable under ${sink.rootPath} — train and saveModel first")
    val rows = sink.read(WeightsTable).collect()
    val biasRow = rows.find(_.getInt(0) == -1)
    require(biasRow.isDefined, s"$WeightsTable has no bias row")
    val ws = rows.filter(_.getInt(0) >= 0)
    require(ws.nonEmpty, s"$WeightsTable has no weight rows")
    val buckets = ws.map(_.getInt(0)).max + 1
    require(ws.length == buckets &&
        ws.map(_.getInt(0)).toSet.size == buckets,
      s"$WeightsTable is incomplete: ${ws.length} weight rows for " +
        s"bucket range [0, ${buckets - 1}] — a partial table would " +
        "silently change the hashing modulus")
    val weights = new Array[Double](buckets)
    ws.foreach(r => weights(r.getInt(0)) = r.getDouble(1))
    HashedLinearModel(weights, biasRow.get.getDouble(1))
  }
}
