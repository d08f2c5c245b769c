package graft.io

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sinks — the L of the ETL jobs (SURVEY.md §2.2). */
object Writers {

  /** K1 — the reference's single-file JSON contract:
    * `coalesce(1).write.json(dir, overwrite)` (cases_time_analysis
    * .py:309-314). coalesce(1) funnels the (small, aggregated) result
    * through one task because the downstream consumer reads exactly
    * one file — a deliberate bottleneck on final outputs only, never
    * on intermediate data (SURVEY.md §7.4 risk 6).
    *
    * The ETL jobs write their outputs through [[singleFileJsonAll]]:
    * a job's independent outputs are written concurrently, at most
    * `defaultParallelism` at a time. Each output is still exactly one
    * JSON file with the same contents as a one-by-one pass.
    */
  def singleFileJson(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(dir)

  /** Writes each `name -> build` output of `job` as
    * `singleFileJson(build(), s"$outDir/$name")`, all of them
    * concurrently through [[concurrently]]. A job is ~10 small
    * single-task writes: one at a time they leave the driver waiting
    * on fixed per-query cost while the cores idle.
    */
  def singleFileJsonAll(spark: SparkSession, job: String, outDir: String,
    outputs: Seq[(String, () => DataFrame)]): Unit =
    concurrently(spark, job, outputs.map { case (name, build) =>
      name -> (() => singleFileJson(build(), s"$outDir/$name"))
    })

  /** Runs independent driver-side actions of `job` concurrently and
    * returns their results in declared order. The pool is sized
    * `min(actions, defaultParallelism)` and created per call, so its
    * threads inherit the caller's Spark local properties (job tags,
    * job group, description — what job-group cancellation and
    * per-job attribution key on); a shared pool's threads would not.
    * Each thread runs with `spark` as its active session.
    *
    * Every action is waited for. The first failure in declared order
    * is rethrown naming `job` and the action, with the later failures
    * attached as suppressed; the pool is shut down in every case.
    */
  def concurrently[A](spark: SparkSession, job: String,
    actions: Seq[(String, () => A)]): Seq[A] = {
    val size = math.max(1, math.min(actions.length, spark.sparkContext.defaultParallelism))
    val ids = new AtomicInteger()
    val threads: ThreadFactory = (r: Runnable) => {
      val t = new Thread(r, s"$job-${ids.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
    val pool = Executors.newFixedThreadPool(size, threads)
    try {
      val futures = actions.map { case (_, action) =>
        pool.submit(new Callable[A] {
          def call(): A = { SparkSession.setActiveSession(spark); action() }
        })
      }
      val outcomes = futures.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      val failures = actions.zip(outcomes).collect { case ((name, _), Left(e)) =>
        new RuntimeException(s"$job: $name failed: $e", e)
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
      outcomes.collect { case Right(a) => a }
    } finally pool.shutdownNow()
  }

  /** K2 — parquet materialization (cases_clinical_spectrum_analysis
    * .py:115-116).
    */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Partitioned JSON — the scale-path variant of K1 for large
    * results: same format, no single-task funnel.
    */
  def partitionedJson(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  /** Sharded JSONL — the training-corpus exchange format (one JSON
    * object per line, up to N shard files). Shard routing hashes
    * `by`, so re-runs produce identical doc→shard placement; within a
    * shard, line order is task order (consumers treat shards as sets,
    * as every JSONL loader does). `shards` is an UPPER BOUND on the
    * file count: Spark writes no part file for an empty hash
    * partition, so under key skew or small inputs fewer files appear.
    * Loaders must therefore address shards through the `_shards.json`
    * manifest written alongside (sorted list of produced part files),
    * never by counting to `shards`. At 100 TB `shards` is the
    * loader's parallelism, not a coalesce bottleneck — each shard
    * writes from its own task.
    */
  def shardedJsonl(df: DataFrame, dir: String, shards: Int,
    by: org.apache.spark.sql.Column): Unit = {
    df.repartition(shards, by).write.mode("overwrite").json(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), df.sparkSession.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("part-")).sorted
    val manifest = parts.map(p => "\"" + p + "\"").mkString("[", ",", "]")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, "_shards.json"), true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** ORC sink — columnar twin of K2 for warehouses standardized on
    * ORC; same writer discipline (overwrite, no coalesce).
    */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Z-ordered parquet: range-partition and sort by the Morton
    * interleave of two keys, so every output file and row group gets
    * a min/max envelope tight in BOTH keys — predicates on either
    * dimension skip data (ZOrderSpec measures ≥2× scan reduction per
    * key from the scan's own metrics). This is the write-side half of
    * the layout story: one extra sort at write time buys two pruning
    * dimensions for every read after it. The z column is dropped
    * before writing — the layout, not the value, is the product.
    *
    * `repartitionByRange` samples z to build balanced ranges, so file
    * sizes track data volume; at 100 TB set
    * `spark.sql.shuffle.partitions` (or pass `numFiles`) to the
    * target file count.
    */
  def zOrderedParquet(df: DataFrame, path: String,
    keyA: org.apache.spark.sql.Column, keyB: org.apache.spark.sql.Column,
    numFiles: Option[Int] = None): Unit = {
    import org.apache.spark.sql.graftbridge.ZOrderLong
    val z = ZOrderLong.zorder2(keyA, keyB)
    val zed = df.withColumn("__z", z)
    val ranged = numFiles
      .map(n => zed.repartitionByRange(n, org.apache.spark.sql.functions.col("__z")))
      .getOrElse(zed.repartitionByRange(org.apache.spark.sql.functions.col("__z")))
    ranged.sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
