package graft.jobs

import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.mllib.evaluation.MulticlassMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.functions.BinKernels
import graft.io.{Readers, Writers}
import graft.operators.BatchInference

/** The radiography ETL job — re-expression of
  * /root/reference/spark/jobs/radiography_analysis.py: four image
  * class directories → union (U1) → 299×299 filter (F3) →
  * percentage/sample/colour-stats outputs → RF classification (M2,
  * M6, M7) → distributed batched inference (D12).
  *
  * The reference's four per-row byte-stat UDFs (D4) are fused into
  * the single-pass BinKernels.byteStats struct expression; its
  * unseeded randomSplit is pinned to seed=2020 (documented
  * divergence, SURVEY.md §5 determinism discipline).
  */
object RadiographyAnalysis {

  val classNames: Seq[String] =
    Seq("Normal", "COVID", "Lung_Opacity", "Viral_Pneumonia")
  final val ClassnameInvalid = "N/A"

  /** S3 — one image scan per class dir, each tagged (py:71-89). */
  def extract(spark: SparkSession, baseDir: String): DataFrame =
    classNames.zipWithIndex
      .map { case (name, k) => Readers.images(spark, s"$baseDir/$name", k) }
      .reduce(_ union _)

  /** S3 scale path — the same extract over `binaryFile` + the
    * ImgKernels decode expression (SURVEY.md §7.4 risk 4). Struct
    * layout and invalid-file behaviour match [[extract]], so every
    * downstream stage runs unchanged; the scan itself is a plain
    * distributed file scan with no eager decode.
    */
  def extractBinary(spark: SparkSession, baseDir: String): DataFrame =
    classNames.zipWithIndex
      .map { case (name, k) => Readers.imagesBinary(spark, s"$baseDir/$name", k) }
      .reduce(_ union _)

  /** U1+F3+H1 — union, size filter, repartition before the
    * UDF-heavy stages (py:92-104).
    */
  def transform(df: DataFrame): DataFrame =
    df.filter(col("image.height") === 299 && col("image.width") === 299)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** A3 — per-class counts with percentage; the reference embeds a
    * driver-side df.count() in the agg expression (py:107-112) — here
    * the total comes from an unpartitioned window over the 4
    * aggregated rows (same values, no separate driver action).
    */
  def percentageOfSamples(df: DataFrame): DataFrame =
    df.groupBy("label")
      .agg(count("image").as("count"))
      .withColumn("percentage",
        col("count") / sum("count").over(Window.partitionBy()) * 100)
      .orderBy(col("label").asc)

  /** D6+D8+A6+F5 — representative sample per class: strip the
    * file:// prefix unless hdfs://, classify the label, drop invalid
    * (py:114-123, 357-378). The representative is the class's
    * smallest origin, so the pick does not depend on which rows a
    * shuffle returns first (the reference's dropDuplicates does).
    */
  def takeSamples(df: DataFrame): DataFrame = {
    val origin = col("origin")
    val hdfsOrigin = when(origin.startsWith("hdfs://"), origin)
      .otherwise(expr("substring(origin, 8)"))
    val classify = classNames.zipWithIndex.foldLeft(lit(ClassnameInvalid)) {
      case (acc, (name, k)) => when(col("label") === k, name).otherwise(acc)
    }
    df.groupBy("label").agg(min("image.origin").as("origin"))
      .withColumn("origin", hdfsOrigin)
      .withColumn("class_name", classify)
      .filter(col("class_name") =!= ClassnameInvalid)
      .select("origin", "class_name")
      .orderBy(col("class_name").asc)
  }

  /** D4 fused + O4 — per-class bounded sample, single-pass byte
    * stats over image bytes (py:126-162; fused per SURVEY.md §4.3).
    * The sample is the first `samplePerClass` images by origin, so its
    * membership and order do not depend on partition arrival order.
    */
  def colourDistribution(df: DataFrame, samplePerClass: Int = 1000): DataFrame = {
    val sampled = classNames.indices
      .map(k => df.filter(col("label") === k).orderBy(col("image.origin")).limit(samplePerClass))
      .reduce(_ union _)
    sampled
      .withColumn("s", BinKernels.byteStatsCol(col("image.data")))
      .select(col("label"),
        col("s.bmin").cast("float").as("min"),
        col("s.bmax").cast("float").as("max"),
        col("s.bmean").cast("float").as("mean"),
        col("s.bstd").cast("float").as("standard_deviation"))
  }

  /** M1+M2+M6+M7+S5 — RF on the 4 byte-stat features, seeded split,
    * accuracy + confusion matrix lifted back to a 1-row frame
    * (py:165-223).
    */
  def mlClassification(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val feats = df
      .withColumn("s", BinKernels.byteStatsCol(col("image.data")))
      .select(col("label").cast("double").as("label"),
        col("s.bmin").cast("double").as("min"),
        col("s.bmax").cast("double").as("max"),
        col("s.bmean").as("mean"),
        col("s.bstd").as("standard_deviation"))
    val assembled = new VectorAssembler()
      .setInputCols(Array("min", "max", "mean", "standard_deviation"))
      .setOutputCol("features")
      .transform(feats)
      .cache()
    try {
      // reference split is unseeded (py:192); pinned for determinism
      val Array(train, test) = assembled.randomSplit(Array(0.9, 0.1), seed = 2020)
      val model = new RandomForestClassifier().setMaxDepth(10).fit(train)
      val scored = model.transform(test).cache()
      try {
        val accuracy = new MulticlassClassificationEvaluator()
          .setMetricName("accuracy").evaluate(scored)
        val metrics = new MulticlassMetrics(
          scored.select("prediction", "label").rdd
            .map(r => (r.getDouble(0), r.getDouble(1))))
        val matrix = metrics.confusionMatrix.rowIter
          .map(_.toArray.toSeq).toSeq
        Seq((accuracy, matrix)).toDF("accuracy", "matrix")
      } finally scored.unpersist()
    } finally assembled.unpersist()
  }

  /** D12 — bounded inference sample through the load-once-per-
    * partition batched scorer (py:293-326; stub model, SURVEY.md
    * §7.3). The sample is the first `sample` images by origin.
    */
  def dlInference(df: DataFrame, sample: Int = 100, batchSize: Int = 64): DataFrame =
    BatchInference.inferBinary(
      df.orderBy(col("image.origin")).limit(sample).select(col("image.data").as("data")),
      "data", batchSize)(BatchInference.stubModel _)
      .select("prediction")

  /** M8 — the reference's transfer-learning shape end-to-end
    * (radiography_analysis.py:226–310): distributed byte-stat feature
    * pass → BOUNDED collect of the fine-tune sample → driver-side fit
    * of the softmax head (the Keras-head stand-in,
    * operators/TransferHead) → save + reload the model artifact (K4,
    * py:285) → broadcast-score the corpus via the load-once batched
    * scorer (D12, py:307–326). Returns one row per scored image:
    * (label, predicted, prediction probabilities).
    *
    * Determinism: the collected sample is sorted (label, features)
    * before the fit, so the trained weights are independent of
    * partition arrival order.
    */
  def transferLearning(df: DataFrame, modelPath: String,
    sampleN: Int = 256, batchSize: Int = 64): DataFrame = {
    import graft.operators.TransferHead
    val sample = df
      .withColumn("s", BinKernels.byteStatsCol(col("image.data")))
      .select(col("label"), col("image.origin").as("origin"),
        col("s.bmin").cast("double"), col("s.bmax").cast("double"),
        col("s.bmean"), col("s.bstd"))
      // ordered limit (TakeOrderedAndProject, no full sort): sample
      // MEMBERSHIP must not depend on partition arrival order
      .orderBy(col("origin"))
      .limit(sampleN) // the fine-tune sample, never the corpus
      .drop("origin")
      .collect()
      .map(r => (r.getInt(0), Array(r.getDouble(1) / 255.0,
        r.getDouble(2) / 255.0, r.getDouble(3) / 255.0,
        r.getDouble(4) / 255.0)))
      .sortBy { case (y, x) => (y, x.mkString(",")) }
    val head = TransferHead.fit(sample.map(_._2), sample.map(_._1),
      classNames.length)
    TransferHead.save(head, modelPath)
    val loaded = TransferHead.load(modelPath) // artifact round-trip (K4)
    BatchInference.inferBinary(
      df.select(col("label"), col("image.data").as("data")),
      "data", batchSize)(() => TransferHead.scorer(loaded))
      .select(col("label"), col("prediction"))
      .withColumn("predicted",
        expr("array_position(prediction, array_max(prediction)) - 1")
          .cast("int"))
  }

  /** Config-file bootstrap — the reference's one-JSON-per-job submit
    * contract (spark.py:40–52 + configs/radiography_analysis_config.json,
    * the one reference config that actually carries a conf override).
    */
  def run(spark: SparkSession, config: JobConfig): Unit = {
    config.applyRuntimeConf(spark)
    run(spark, config.requireInput("radiography"), config.requireOutput("radiography"))
  }

  def run(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    val input = transform(extract(spark, baseDir))
    // a frame the caller already cached stays cached after the run
    val ownCache = input.storageLevel == StorageLevel.NONE
    val df = input.cache()
    try {
      // the first output fills the cache alone: four concurrent first
      // readers would each repeat the image decode and the shuffle
      Writers.singleFileJson(percentageOfSamples(df), s"$outDir/percentage_of_samples")
      Writers.singleFileJsonAll(spark, "radiography", outDir, Seq(
        "take_samples" -> (() => takeSamples(df)),
        "colour_distribution" -> (() => colourDistribution(df)),
        "ml_classification" -> (() => mlClassification(df)),
        "dl_inference" -> (() => dlInference(df))))
    } finally if (ownCache) df.unpersist()
  }
}
