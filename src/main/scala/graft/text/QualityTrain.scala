package graft.text

import graft.core.SizeGate
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed TRAINING for the model-based quality filter — the other
  * half of [[TextOps.modelQualityScore]]'s inference plumbing. The
  * published web-corpus pipelines (CCNet, LLaMA's quality classifier,
  * FineWeb-Edu, DCLM) train a linear classifier over hashed
  * bag-of-words features and then run it map-side over the crawl; this
  * module reproduces that loop as Spark aggregations.
  *
  * Model: logistic regression over `dim` hashed buckets,
  * p = sigmoid(w·x + b), x = per-doc normalized bucket counts
  * (tf / n_tokens), full-batch gradient descent.
  *
  * Distributed shape (the part that must survive 100 TB):
  *  - the corpus is featurized ONCE into one compact row per doc
  *    (doc_id, y, buckets[], tfs[]) and checkpointed — epochs never
  *    re-tokenize text;
  *  - each epoch is ONE pass: a kernel UDF computes the doc's margin
  *    from the BROADCAST weight array (no join), emits per-bucket
  *    gradient contributions, and a partial-agg groupBy(bucket) reduces
  *    them — the only shuffle has at most `dim` keys and map-side
  *    combine, so per-epoch shuffle volume is O(partitions × dim), not
  *    O(corpus);
  *  - weights live on the driver between epochs: they are MODEL-sized
  *    (2^16 doubles = 512 KB), not data-sized — the canonical
  *    treeAggregate shape of Spark ML's own LogisticRegression.
  *
  * Determinism: gradient sums are float and Spark's reduce order is not
  * fixed, so training is witness-checked (planted-signal accuracy,
  * monotone loss), not DuckDB-oracled — unlike inference, which is.
  */
object QualityTrain {

  case class Model(dim: Int, salt: String, bias: Double,
      weights: Array[Double], lossPerEpoch: Seq[Double])

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Hash a token to its bucket — MUST match featurize and scoreWith. */
  private[text] def bucketOf(tok: String, salt: String, dim: Int): Int = {
    val h = TextHash.fnv(tok + ":" + salt)
    math.floorMod(h, dim.toLong).toInt
  }

  /** The ONE tokenize→bucket→normalized-tf kernel shared by training
    * featurization and inference — parity between the two is the
    * module's core contract, so there is exactly one copy.
    */
  private[text] def tokenBuckets(t: String, salt: String,
      dim: Int): (Array[Int], Array[Double]) = {
    val toks =
      if (t == null) Array.empty[String]
      else t.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        .filter(_.nonEmpty)
    if (toks.isEmpty) (Array.empty[Int], Array.empty[Double])
    else {
      val counts = new scala.collection.mutable.HashMap[Int, Int]()
      toks.foreach { tok =>
        val b = bucketOf(tok, salt, dim)
        counts(b) = counts.getOrElse(b, 0) + 1
      }
      val buckets = counts.keys.toArray.sorted
      val tfs = buckets.map(b => counts(b).toDouble / toks.length)
      (buckets, tfs)
    }
  }

  /** One compact feature row per doc: (doc_id, y, buckets, tfs). */
  private def featurize(docs: DataFrame, textCol: String, labelCol: String,
      idCol: String, dim: Int, salt: String): DataFrame = {
    val feat = udf { (t: String) => tokenBuckets(t, salt, dim) }
    docs.select(col(idCol).as("doc_id"),
        col(labelCol).cast("double").as("y"),
        feat(col(textCol)).as("f"))
      .select(col("doc_id"), col("y"),
        col("f._1").as("buckets"), col("f._2").as("tfs"))
      .filter(size(col("buckets")) > 0)
  }

  /** Full-batch GD. `labelCol` must be 0/1 (castable to double). */
  def train(docs: DataFrame, textCol: String, labelCol: String,
      idCol: String = "doc_id", dim: Int = 1 << 12, iters: Int = 20,
      lr: Double = 2.0, salt: String = "qtrain",
      localCutoff: Int = 100000): Model = {
    require(dim > 0 && dim <= (1 << 22), s"dim out of range: $dim")
    val spark = docs.sparkSession
    val features = featurize(docs, textCol, labelCol, idCol, dim, salt)
      .localCheckpoint(true)

    // Size-adaptive driver fast path (gated by SizeGate.collectIfSmall):
    // full-batch GD is iters sequential Spark jobs of pure scheduler
    // latency when the FEATURIZED table (one compact row per doc, text
    // already dropped) fits the driver. The epoch arithmetic below is the
    // same per-doc margin/residual/loss kernel, and gradient summation
    // order differs only within the documented float-reduce
    // nondeterminism this operator already carries (witness-checked, not
    // oracled — scaladoc above). The distributed epoch loop is unchanged
    // above the cutoff.
    SizeGate.collectIfSmall(features, localCutoff).foreach { probe =>
      val nDocs = probe.length.toDouble
      require(nDocs > 0, "no non-empty documents to train on")
      val bks = probe.map(_.getAs[collection.Seq[Int]]("buckets").toArray)
      val tfs = probe.map(_.getAs[collection.Seq[Double]]("tfs").toArray)
      val ys = probe.map(_.getAs[Double]("y"))
      val w = new Array[Double](dim)
      var b = 0.0
      val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to iters) {
        val grad = new Array[Double](dim)
        var biasGrad = 0.0
        var epochLoss = 0.0
        var d = 0
        while (d < probe.length) {
          val bk = bks(d); val tf = tfs(d); val y = ys(d)
          var z = b
          var i = 0
          while (i < bk.length) { z += w(bk(i)) * tf(i); i += 1 }
          val p = sigmoid(z)
          val r = p - y
          val eps = 1e-12
          epochLoss += -(y * math.log(p.max(eps)) +
            (1.0 - y) * math.log((1.0 - p).max(eps)))
          i = 0
          while (i < bk.length) { grad(bk(i)) += r * tf(i); i += 1 }
          biasGrad += r
          d += 1
        }
        var i = 0
        while (i < dim) { w(i) -= lr * grad(i) / nDocs; i += 1 }
        b -= lr * biasGrad / nDocs
        losses += epochLoss / nDocs
      }
      return Model(dim, salt, b, w, losses.toSeq)
    }

    val nDocs = features.count().toDouble
    require(nDocs > 0, "no non-empty documents to train on")

    val w = new Array[Double](dim)
    var b = 0.0
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to iters) {
      val bw = spark.sparkContext.broadcast(w)
      val bb = b
      // kernel: margin from broadcast weights, residual, per-bucket
      // gradient contributions; bucket -1 carries (bias grad, log-loss)
      val gradKernel = udf { (buckets: Array[Int], tfs: Array[Double], y: Double) =>
        val wArr = bw.value
        var z = bb
        var i = 0
        while (i < buckets.length) { z += wArr(buckets(i)) * tfs(i); i += 1 }
        val p = sigmoid(z)
        val r = p - y
        val eps = 1e-12
        val loss = -(y * math.log(p.max(eps)) +
          (1.0 - y) * math.log((1.0 - p).max(eps)))
        val out = new Array[(Int, Double, Double)](buckets.length + 1)
        i = 0
        while (i < buckets.length) {
          out(i) = (buckets(i), r * tfs(i), 0.0); i += 1
        }
        out(buckets.length) = (-1, r, loss)
        out
      }
      val agg = features
        .select(explode(gradKernel(col("buckets"), col("tfs"), col("y"))).as("g"))
        .groupBy(col("g._1").as("bucket"))
        .agg(sum(col("g._2")).as("grad"), sum(col("g._3")).as("loss"))
        .collect()
      var biasGrad = 0.0
      var epochLoss = 0.0
      agg.foreach { row: Row =>
        val bucket = row.getInt(0)
        val g = row.getDouble(1)
        if (bucket == -1) { biasGrad = g; epochLoss = row.getDouble(2) }
        else w(bucket) -= lr * g / nDocs
      }
      b -= lr * biasGrad / nDocs
      losses += epochLoss / nDocs
      bw.unpersist()
    }
    Model(dim, salt, b, w, losses.toSeq)
  }

  /** Inference with a TRAINED model through the same plumbing as the
    * stub-weight [[TextOps.modelQualityScore]]: broadcast weight array,
    * one kernel call per row, no aggregation state — streams and
    * batch-filters alike. Output (doc_id, score, keep); empty docs
    * score 0.5 (w·0 + untouched bias at init) and are NEVER kept —
    * gated on the token count, not a score sentinel, so a genuine doc
    * whose margin happens to be exactly 0 still obeys `keepThreshold`.
    */
  def scoreWith(docs: DataFrame, model: Model, textCol: String,
      idCol: String = "doc_id", keepThreshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    val bw = spark.sparkContext.broadcast(model.weights)
    val bb = model.bias
    val dim = model.dim
    val salt = model.salt
    val scoreUdf = udf { (t: String) =>
      val (buckets, tfs) = tokenBuckets(t, salt, dim)
      if (buckets.isEmpty) (0.5, 0)
      else {
        var z = bb
        val wArr = bw.value
        var i = 0
        while (i < buckets.length) { z += wArr(buckets(i)) * tfs(i); i += 1 }
        (sigmoid(z), buckets.length)
      }
    }
    docs.select(col(idCol).as("doc_id"), scoreUdf(col(textCol)).as("r"))
      .select(col("doc_id"), col("r._1").as("score"),
        (col("r._2") > 0 && col("r._1") >= keepThreshold).as("keep"))
  }
}
