package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins for q58, the trained hashed-logistic-regression quality
  * classifier: separability on a planted corpus, bit-reproducible
  * training, honest holdout bookkeeping, and the O(Dim) driver-state
  * bound that makes the training loop scale. */
class ClassifierSpec extends SparkSpec {

  /** Planted corpus: two disjoint vocabularies on opposite sides of the
    * q18 weak-label cut. "Good" docs are 120 distinct alpha tokens
    * (quality ≈ 1); "bad" docs are 40 digit-bearing tokens
    * (alpha_ratio = 0 ⇒ quality = 0). Linearly separable in the hashed
    * feature space, so a correct GD loop must classify the holdout
    * perfectly. */
  private lazy val plantedDir: String = {
    import spark.implicits._
    // pure-alpha token ids (digits would zero q18's alpha_ratio)
    def alpha(k: Int): String = k.toString.map(c => ('a' + (c - '0')).toChar)
    val good = (0 until 100).map { d =>
      val toks = (0 until 120).map(i => s"goodword${alpha((d * 7 + i) % 300)}")
      (d.toLong, toks.mkString(" "), "en", s"src${d % 5}", toks.mkString(" ").length.toLong)
    }
    val bad = (0 until 100).map { d =>
      val toks = (0 until 40).map(i => s"x${(d * 11 + i) % 200}9z")
      ((100 + d).toLong, toks.mkString(" "), "en", s"src${d % 5}", toks.mkString(" ").length.toLong)
    }
    val dir = tmpDir("clf-planted")
    (good ++ bad).toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q58 planted: holdout split is honest and the classifier separates it") {
    import spark.implicits._
    val out = Classifier.qualityClassifier(spark, plantedDir)
      .select($"doc_id", $"label", $"is_holdout", $"score", $"pred", $"holdout_acc")
      .as[(Long, Int, Int, Double, Int, Double)].collect()
    assert(out.length == 200)
    assert(out.map(_._1).distinct.length == 200, "one row per doc")
    // the weak label must replay q18's rule: good docs 1, bad docs 0
    out.foreach { case (id, label, _, score, pred, _) =>
      assert(label == (if (id < 100) 1 else 0), s"doc $id weak label")
      assert(score >= 0.0 && score <= 1.0)
      assert(pred == (if (score >= 0.5) 1 else 0), s"doc $id pred/score consistency")
    }
    val hold = out.filter(_._3 == 1)
    assert(hold.nonEmpty && hold.length < out.length, "split must be proper")
    assert(hold.exists(_._2 == 1) && hold.exists(_._2 == 0),
      "holdout must contain both classes for the accuracy to mean anything")
    // separable classes => a correct GD loop classifies the holdout
    val acc = hold.count(h => h._5 == h._2).toDouble / hold.length
    assert(acc >= 0.95, s"planted holdout accuracy $acc")
    // the advertised constant must BE that accuracy (rounded)
    val advertised = out.head._6
    assert(math.abs(advertised -
      BigDecimal(acc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("q58 training is bit-reproducible and driver state is O(Dim)") {
    val ds = Classifier.featurize(spark, plantedDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val w1 = Classifier.train(ds)
      val w2 = Classifier.train(ds)
      assert(w1.length == Classifier.NFeat, "weights are Dim+2, corpus-independent")
      assert(java.util.Arrays.equals(w1, w2),
        "same input + parallelism must reproduce weights bit-exactly")
      assert(w1.exists(_ != 0.0), "training moved the weights")
    } finally ds.unpersist(blocking = false)
  }

  test("q58 featurize: indices sorted/bounded, L1 tf block sums to 1, no shuffle") {
    val ds = Classifier.featurize(spark, plantedDir)
    ds.collect().foreach { ex =>
      assert(ex.idx.toSeq == ex.idx.toSeq.sorted)
      assert(ex.idx.last == Classifier.Dim + 1 && ex.v.last == 1.0, "bias slot")
      assert(ex.idx.forall(i => i >= 0 && i < Classifier.NFeat))
      val tfSum = ex.idx.zip(ex.v).collect {
        case (i, v) if i < Classifier.Dim => v }.sum
      assert(math.abs(tfSum - 1.0) < 1e-9, "L1-normalized tf")
    }
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"featurization must be map-only (no shuffle):\n$plan")
  }

  test("q58 featurize lowercases locale-independently (I under tr-TR)") {
    import spark.implicits._
    val dir = tmpDir("clf-locale")
    val text = "IMPORT INDEX IF In Is LIST Item"
    Seq((0L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def feats(): Seq[(Long, Seq[Int], Seq[Double])] =
      Classifier.featurize(spark, dir).collect()
        .map(ex => (ex.docId, ex.idx.toSeq, ex.v.toSeq)).toSeq
    val root = feats()
    val saved = java.util.Locale.getDefault
    try {
      // Turkish lowercases I to dotless ı: a default-locale lowercase
      // would hash these tokens into other buckets
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      assert(feats() == root)
    } finally java.util.Locale.setDefault(saved)
  }

  test("q58 on the driver corpus: runs end-to-end and reports a real accuracy") {
    import spark.implicits._
    val out = Classifier.qualityClassifier(spark, "/root/testdata/sf0.001")
    val n = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(out.count() == n)
    val accs = out.select($"holdout_acc").distinct().as[Double].collect()
    assert(accs.length == 1 && accs.head >= 0.0 && accs.head <= 1.0)
  }
}
