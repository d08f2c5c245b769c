package graft

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one lazy session per suite. */
trait SparkTestBase extends AnyFunSuite {
  final val Sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.builder("graft-test", "4").getOrCreate()

  /** The contract every ETL job's `run` keeps, checked on one run into
    * a fresh directory made under a job tag the caller set:
    *  - each output named in `expected` is exactly one `part-*.json`
    *    holding the expected number of lines;
    *  - every Spark job the run started carries the caller's tag (local
    *    properties reach the threads the job writes from, which keeps
    *    job-group cancellation and per-job attribution working);
    *  - no RDD persisted during the run is still persisted afterwards.
    * Suites run one at a time, so the jobs and persisted RDDs seen
    * while `run` executes are its own.
    */
  def checkJobRun(job: String, expected: Map[String, Long])(run: String => Unit): Unit = {
    val sc = spark.sparkContext
    val out = java.nio.file.Files.createTempDirectory(s"${job}_out").toString
    val tag = s"check-$job"
    val marker = s"check-$job-drained"
    val tagsOfJobs = new ConcurrentLinkedQueue[Set[String]]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty)
        if (tags(marker)) drained.countDown() else tagsOfJobs.add(tags)
      }
    }
    sc.addSparkListener(listener)
    val persistedBefore = sc.getPersistentRDDs.keySet
    try {
      sc.addJobTag(tag)
      try run(out) finally sc.removeJobTag(tag)
      // listener events arrive in order: once the marker job's start is
      // seen, every job the run started has been recorded
      sc.addJobTag(marker)
      try spark.range(1).count() finally sc.removeJobTag(marker)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)

    val tagSets = tagsOfJobs.asScala.toSeq
    assert(tagSets.nonEmpty, s"$job started no Spark job")
    assert(tagSets.forall(_(tag)),
      s"${tagSets.count(!_(tag))} of ${tagSets.size} $job jobs lost the caller's tag")
    val leaked = sc.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"$job left RDDs persisted: $leaked")
    expected.foreach { case (name, lines) =>
      val parts = Option(new File(out, name).listFiles).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      assert(parts.length == 1, s"$job/$name: coalesce(1) must produce exactly one json file")
      val got = java.nio.file.Files.lines(parts.head.toPath).count()
      assert(got == lines, s"$job/$name has $got lines, expected $lines")
    }
  }
}
