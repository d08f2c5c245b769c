package graft

import java.awt.image.BufferedImage
import java.io.File
import javax.imageio.ImageIO
import org.apache.spark.sql.functions._
import graft.jobs.RadiographyAnalysis
import graft.jobs.RadiographyAnalysis._

class RadiographyJobSpec extends SparkTestBase {

  /** Deterministic 299×299 constant-value RGB PNGs, 12 per class,
    * plus one off-size image (must be filtered) and one corrupt file
    * (must be dropped by dropInvalid).
    */
  private lazy val imgDir: String = {
    val base = java.nio.file.Files.createTempDirectory("radiography").toFile
    def writePng(f: File, size: Int, value: Int): Unit = {
      val img = new BufferedImage(size, size, BufferedImage.TYPE_3BYTE_BGR)
      val rgb = (value << 16) | (value << 8) | value
      for (x <- 0 until size; y <- 0 until size) img.setRGB(x, y, rgb)
      ImageIO.write(img, "png", f)
    }
    classNames.zipWithIndex.foreach { case (name, k) =>
      val dir = new File(base, name); dir.mkdirs()
      (0 until 12).foreach { i =>
        writePng(new File(dir, s"img_$i.png"), 299, k * 60 + i)
      }
    }
    writePng(new File(base, s"${classNames.head}/offsize.png"), 100, 10)
    java.nio.file.Files.write(
      new File(base, s"${classNames.head}/corrupt.png").toPath,
      "not a png".getBytes)
    base.toString
  }

  private lazy val df = RadiographyAnalysis.transform(RadiographyAnalysis.extract(spark, imgDir)).cache()

  test("image scans drop invalid files; 299x299 filter applies (S3/F3)") {
    assert(df.count() == 48) // 4 classes x 12; offsize + corrupt gone
  }

  test("percentage of samples per class (A3 via window total)") {
    val rows = percentageOfSamples(df).collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[Double]("percentage") == 25.0))
    assert(rows.forall(_.getAs[Long]("count") == 12L))
  }

  test("takeSamples: one representative per class, origin stripped (D6/D8/A6)") {
    val rows = takeSamples(df).collect()
    assert(rows.map(_.getAs[String]("class_name")).toSet == classNames.toSet)
    assert(rows.forall(!_.getAs[String]("origin").startsWith("file:")))
    // the representative is the class's smallest origin, whatever order
    // the round-robin shuffle returns rows in
    assert(rows.map(r => r.getAs[String]("class_name") -> r.getAs[String]("origin")).toMap ==
      classNames.map(n => n -> s"$imgDir/$n/img_0.png").toMap)
  }

  test("colourDistribution: fused byte stats on constant images (D4)") {
    val rows = colourDistribution(df).collect()
    assert(rows.length == 48)
    rows.foreach { r =>
      assert(r.getAs[Float]("min") == r.getAs[Float]("max"))
      assert(r.getAs[Float]("standard_deviation") == 0.0f)
      assert(r.getAs[Float]("mean") == r.getAs[Float]("min"))
    }
    // a bounded sample is the first images by origin: img_0, img_1, img_10
    val sampled = colourDistribution(df, samplePerClass = 3).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Float]("mean"))).toSeq
    assert(sampled == classNames.indices.flatMap(k => Seq(0, 1, 10).map(i => (k, (k * 60 + i).toFloat))))
  }

  test("mlClassification: RF on byte-stat features (M1/M2/M6/M7)") {
    val row = mlClassification(df).head()
    val acc = row.getAs[Double]("accuracy")
    assert(acc >= 0.0 && acc <= 1.0)
    // the matrix covers the labels present in the (seeded) test split
    val matrix = row.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("matrix")
    assert(matrix.nonEmpty && matrix.length <= 4)
    assert(matrix.forall(_.length == matrix.length), "confusion matrix must be square")
  }

  test("binaryFile reader runs the same pipeline: filter, stats parity (S3 scale path)") {
    val dfBin = RadiographyAnalysis.transform(
      RadiographyAnalysis.extractBinary(spark, imgDir)).cache()
    assert(dfBin.count() == 48) // same dropInvalid + 299x299 semantics
    val a = percentageOfSamples(dfBin).collect()
    assert(a.length == 4 && a.forall(_.getAs[Double]("percentage") == 25.0))
    // byte stats agree with the built-in image source reader per class
    val statsOf = (d: org.apache.spark.sql.DataFrame) =>
      colourDistribution(d).groupBy("label")
        .agg(round(sum("mean"), 3).as("m"), round(sum("standard_deviation"), 3).as("s"))
        .collect().map(r => (r.getAs[Int]("label"), r.getAs[Double]("m"), r.getAs[Double]("s")))
        .toSet
    assert(statsOf(dfBin) == statsOf(df))
  }

  test("transferLearning: fit -> save -> load -> broadcast score, pinned metrics (M8/K4)") {
    val modelPath = java.nio.file.Files.createTempDirectory("head").toString + "/head.txt"
    val scored = transferLearning(df, modelPath).cache()
    try {
      val rows = scored.collect()
      assert(rows.length == 48)
      // the fixture classes are linearly separable on byte-mean, so
      // the fitted head must classify its own training set perfectly —
      // a pinned metric, not a threshold
      val correct = rows.count(r => r.getAs[Int]("predicted") == r.getAs[Int]("label"))
      assert(correct == 48, s"expected 48/48 correct, got $correct")
      rows.foreach { r =>
        val p = r.getAs[scala.collection.Seq[Float]]("prediction")
        assert(p.length == 4 && math.abs(p.sum - 1.0f) < 1e-5)
      }
      // artifact round-trip is bit-exact and the fit is deterministic:
      // a second end-to-end run writes the identical artifact
      val saved = graft.operators.TransferHead.load(modelPath)
      val modelPath2 = modelPath + ".rerun"
      transferLearning(df, modelPath2).count()
      assert(graft.operators.TransferHead.load(modelPath2) == saved,
        "refit produced different weights — fit is not deterministic")
    } finally scored.unpersist()
  }

  test("dlInference: load-once batched stub scorer (D12)") {
    val preds = dlInference(df, sample = 10, batchSize = 4).collect()
    assert(preds.length == 10)
    preds.foreach { r =>
      val p = r.getAs[scala.collection.Seq[Float]]("prediction")
      assert(p.length == 4)
      assert(math.abs(p.sum - 1.0f) < 1e-5)
    }
    // the sample is the first images by origin (COVID sorts first),
    // scored in that order
    val dataOf = df.select(col("image.origin"), col("image.data")).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val first = Seq(0, 1, 10, 11, 2, 3, 4, 5, 6, 7)
      .map(i => dataOf(s"file://$imgDir/COVID/img_$i.png")).toArray
    assert(preds.map(_.getAs[scala.collection.Seq[Float]]("prediction").toSeq).toSeq ==
      graft.operators.BatchInference.stubModel()(first).map(_.toSeq).toSeq)
  }

  test("run writes single-file JSON outputs") {
    checkJobRun("radiography", Map(
      "percentage_of_samples" -> 4L,
      "take_samples" -> 4L,
      "colour_distribution" -> 48L,
      "ml_classification" -> 1L,
      "dl_inference" -> 48L))(RadiographyAnalysis.run(spark, imgDir, _))
  }
}
