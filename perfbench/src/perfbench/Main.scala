package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{GraftSession, SparkEntry}
import graft.jobs.{CasesTimeAnalysis, ClinicalAnalysis, RadiographyAnalysis, ResearchChallengeAnalysis}
import graft.queries.{Layout, StreamingQueries, TimeTravel}

/** JVM side of the benchmark: one workload, one closed-loop client.
  *
  * Arguments are `key=value` pairs, written by `run.py`:
  *   workload  name of the workload, for the logs
  *   family    short_queries | corpus_cpu | log_stream: the query
  *             workload the `tasks` belong to
  *   seed      orders the tasks of every pass, unless `order=fixed`
  *   trace     1 records spans with the [[Tracer]] and writes trace.json
  *   mode      measure (timed runs: a query without a reference row count
  *             fails), record / oracle (every query of the family), or full
  *             (the build's class-data archive dump)
  *   tasks     comma-separated query names, or `all` for the whole family
  *   jobs      comma-separated ETL jobs (cases_time, clinical, research,
  *             radiography) run as tasks beside the queries
  *   fixtures  comma-separated fixture steps built before the warm-up
  *   warmup    0 when the first call of each task is itself timed
  *   prime     star-schema directory: [[PrimeQuery]] runs there untimed
  *             first, so the first timed call does not pay the JVM's
  *             first-query costs
  *   passes    number of timed passes (a traced run traces all of them)
  *   data      star-schema directory
  *   etl       generated ETL inputs; `expect` lists the row count of
  *             every named output
  *   refs      reference row count of every query task
  *   out       directory for result.json, trace.json and job outputs
  *   dump      when set, each query's result is also written as parquet
  *             there, for the oracle pass
  *
  * Every task's output is checked: a query's row count against `refs`,
  * an ETL job's outputs (one JSON part each) against `expect`.
  */
object Main {

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow: Double = osBean.getProcessCpuTime / 1e9
  private def wallNow: Double = System.nanoTime() / 1e9

  /** The 27 hash and kernel queries whose process CPU was at least 8 s at sf0.1. */
  val CorpusCpu: Set[String] = ("q08 q26 q31 q33 q47 q56 q62 q68 q75 q76 q85 q87 q90 q105 q114 " +
    "q121 q127 q131 q153 q155 q156 q163 q164 q172 q175 q186 q192").split(" ").toSet

  /** The three query families: every declared query is in exactly one. */
  def membership: Map[String, Seq[String]] = {
    val all = SparkEntry.queries.keySet
    val log = StreamingQueries.queries.keySet ++ TimeTravel.queries.keySet ++
      Layout.queries.keySet ++ all.filter(_.contains("stream"))
    val cpu = all.filter(n => CorpusCpu.contains(n.takeWhile(_ != '_'))) -- log
    Map("short_queries" -> (all -- log -- cpu), "corpus_cpu" -> cpu, "log_stream" -> log)
      .map { case (k, v) => k -> v.toSeq.sorted }
  }

  final case class Sample(pass: Int, task: String, wall: Double, cpu: Double, rows: Long,
                          ok: Boolean, err: String, span: Long)

  def main(args: Array[String]): Unit = {
    val o = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workload = o("workload")
    val out = new File(o("out"))
    out.mkdirs()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val sessionT0 = Tracer.now
    val spark = GraftSession.local(s"perfbench-$workload")
    val sessionS = (Tracer.now - sessionT0) / 1e3
    // the listeners are attached for the timed passes only; set-up spans
    // (session, fixtures, warm-up calls) are recorded without them
    val jobSession = if (o.getOrElse("jobs", "").nonEmpty) Some(siblingSession(spark)) else None
    val tracer = if (o("trace") == "1")
      Some(new Tracer(spark.sparkContext, spark +: jobSession.toSeq)) else None
    def span(parent: Long, kind: String, name: String, t0: Long): Long = tracer.map { t =>
      val s = t.open(parent, kind, name, t0); t.close(s); s.id
    }.getOrElse(0L)
    val runSpan = tracer.map(_.open(0, "run", workload, jvmStart))
    val runId = runSpan.map(_.id).getOrElse(0L)
    span(runId, "setup", "session", sessionT0)

    // a fixed-order workload runs its ETL jobs first, in the reference order
    val tasks: Seq[(String, () => Long)] =
      if (o.get("order").contains("fixed")) etlTasks(jobSession, o, out) ++ queryTasks(spark, o)
      else queryTasks(spark, o) ++ etlTasks(jobSession, o, out)
    val refs: Map[String, Long] = o.get("refs").filter(p => new File(p).exists)
      .map(p => Json.flatLongs(new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))).getOrElse(Map.empty)

    def call(pass: Int, parent: Long, name: String, fn: () => Long, check: Boolean = true): Sample = {
      val c0 = cpuNow
      val t0 = wallNow
      val (spanId, res) = tracer match {
        case Some(t) => val (s, r) = t.task(parent, name)(attempt(fn)); (s.id, r)
        case None => (0L, attempt(fn))
      }
      val wall = wallNow - t0
      val cpu = cpuNow - c0
      val checked = res.flatMap { rows =>
        if (!check) Right(rows) else refs.get(name) match {
          case Some(want) if want != rows => Left(s"rows $rows, reference $want")
          case None if !Jobs.contains(name) && o("mode") == "measure" => Left("no reference row count")
          case _ => Right(rows)
        }
      }
      // memory-sink tables of stream replays hold their result on the driver
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("stream_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      Sample(pass, name, wall, cpu, res.getOrElse(-1L), checked.isRight,
        checked.left.getOrElse(""), spanId)
    }

    // ---- set-up: fixture builds on at most `cpus` threads, then warm-up calls
    val fixtureT0 = Tracer.now
    val framesSpan = tracer.map(_.open(runId, "setup", "frames"))
    val fixtureTimes = buildFixtures(spark, o, cpus, tracer, framesSpan.map(_.id).getOrElse(0L))
    framesSpan.foreach(s => tracer.get.close(s))
    val framesS = (Tracer.now - fixtureT0) / 1e3
    val warmT0 = Tracer.now
    val ws = tracer.map(_.open(runId, "setup", "warmup"))
    val prime = o.get("prime").map { d =>
      call(0, ws.map(_.id).getOrElse(0L), PrimeQuery,
        () => rowsOf(SparkEntry.queries(PrimeQuery)(spark, d), PrimeQuery), check = false)
    }
    val warm = prime.toSeq ++ (if (o.getOrElse("warmup", "1") == "1")
      tasks.map { case (n, fn) => call(0, ws.map(_.id).getOrElse(0L), n, fn) } else Nil)
    ws.foreach(s => tracer.get.close(s))
    val warmupS = (Tracer.now - warmT0) / 1e3

    // ---- timed passes: one closed-loop client, order set by the seed
    val firstTimed = Tracer.now
    val rng = new scala.util.Random(o("seed").toLong)
    val maxPasses = o("passes").toInt
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    // a traced run makes the same passes as an untraced one, all traced,
    // so its pass walls compare with an untraced run's
    tracer.foreach(_.attach())
    for (p <- 1 to maxPasses) {
      val ps = tracer.map(_.open(runId, "pass", s"pass $p"))
      val c0 = cpuNow
      val t0 = wallNow
      (if (o.get("order").contains("fixed")) tasks else rng.shuffle(tasks)).foreach { case (n, fn) =>
        samples += call(p, ps.map(_.id).getOrElse(0L), n, fn)
      }
      passes += ((wallNow - t0, cpuNow - c0))
      ps.foreach(s => tracer.get.close(s))
    }
    val drainErrors = tracer.map(_.drain(120000L)).getOrElse(Nil)
    runSpan.foreach(s => tracer.get.close(s))
    tracer.foreach(t => Files.write(new File(out, "trace.json").toPath, t.json.getBytes("UTF-8")))
    o.get("dump").foreach { _ =>
      val names = tasks.map(_._1).toSet
      val sql = SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      Files.write(new File(out, "oracle_sql.json").toPath, sql.toSeq.sorted
        .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",\n", "}").getBytes("UTF-8"))
    }

    def sampleJson(s: Sample) =
      s"""{"pass":${s.pass},"task":${Json.str(s.task)},"wall":${Json.num(s.wall)},""" +
        s""""cpu":${Json.num(s.cpu)},"rows":${s.rows},"ok":${s.ok},"err":${Json.str(s.err)},"span":${s.span}}"""
    val result =
      s"""{"workload":${Json.str(workload)},"cpus":$cpus,""" +
        s""""setup":{"total_s":${Json.num((firstTimed - jvmStart) / 1e3)},"session_s":${Json.num(sessionS)},""" +
        s""""frames_s":${Json.num(framesS)},"critical_path_s":${Json.num((0.0 +: fixtureTimes.map(_._2)).max)},""" +
        s""""warmup_s":${Json.num(warmupS)},""" +
        s""""fixtures":{${fixtureTimes.map { case (n, s) => s"${Json.str(n)}:${Json.num(s)}" }.mkString(",")}}},""" +
        s""""passes":[${passes.map { case (w, c) => s"""{"wall":${Json.num(w)},"cpu":${Json.num(c)}}""" }.mkString(",")}],""" +
        s""""warm":[${warm.map(sampleJson).mkString(",\n")}],""" +
        s""""samples":[${samples.map(sampleJson).mkString(",\n")}],""" +
        s""""drain_errors":[${drainErrors.map(Json.str).mkString(",")}]}"""
    Files.write(new File(out, "result.json").toPath, result.getBytes("UTF-8"))
    spark.stop()
  }

  private def attempt(fn: () => Long): Either[String, Long] =
    try Right(fn())
    catch { case e: Throwable =>
      e.printStackTrace()  // to the run's log; the result carries the message
      Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }

  // ------------------------------------------------------------------ query workloads

  private def queryTasks(spark: SparkSession, o: Map[String, String]): Seq[(String, () => Long)] = {
    val family = o("family")
    val members = membership(family)
    val names = o.getOrElse("tasks", "") match {
      case "all" => members
      case t => t.split(",").toSeq.filter(_.nonEmpty)
    }
    names.foreach(n => require(members.contains(n), s"$n is not a $family query"))
    val data = o("data")
    val dump = o.get("dump")
    names.map { n =>
      val fn = SparkEntry.queries(n)
      n -> (() => {
        val df = fn(spark, data)
        dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$n"))
        val rows = rowsOf(df, n)
        // the query's Dataset was analyzed eagerly, outside the write's execution
        df.queryExecution.tracker.phases.get("analysis")
          .foreach(p => Tracer.taskAttr("analysis_ms", (p.endTimeMs - p.startTimeMs).toDouble))
        rows
      })
    }
  }

  /** Runs `df` through the noop sink (every column materialized, nothing
    * collected) and returns its row count, observed on the way.
    */
  private def rowsOf(df: DataFrame, name: String): Long = {
    val obs = new Observation(s"rows-$name")
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    Await.result(obs.future, 60.seconds).getAs[Long]("n")
  }

  /** One-time builders of persisted frames and warehouse tables, by name
    * (the ones a workload's sample uses).
    */
  private def fixtureSteps(spark: SparkSession, sf: String): Map[String, () => Unit] = Map(
    "source_sketches" -> (() => { graft.queries.SketchQueries.persistedSourceSketches(spark, sf); () }),
    "incremental_cell_store" -> (() => { graft.queries.AnnTrained.ensureIncrementalCellStore(spark, sf); () }))

  /** Builds the requested fixtures on a pool of at most `cpus` threads.
    * Returns each step's own wall time; the longest is the critical path.
    */
  private def buildFixtures(spark: SparkSession, o: Map[String, String], cpus: Int,
                            tracer: Option[Tracer], parent: Long): Seq[(String, Double)] = {
    val names = o.getOrElse("fixtures", "").split(",").filter(_.nonEmpty).toSeq
    if (names.isEmpty) return Nil
    val steps = fixtureSteps(spark, o("data"))
    val pool = Executors.newFixedThreadPool(math.min(cpus, names.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = names.map { n =>
        val step = steps.getOrElse(n, sys.error(s"unknown fixture step $n"))
        Future {
          val t0 = wallNow
          tracer match {
            case Some(t) => t.task(parent, n, "fixture")(step())
            case None => step()
          }
          n -> (wallNow - t0)
        }
      }
      fs.map(Await.result(_, 10.minutes))
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  // ------------------------------------------------------------------ ETL jobs

  /** The four reference ETL jobs, by task name. */
  val Jobs: Set[String] = Set("cases_time", "clinical", "research", "radiography")
  /** Untimed first query of a run whose first calls are timed: it absorbs
    * the JVM's first-query costs (class loading, codegen, scheduler, the
    * engine's own extensions) and belongs to no workload.  A generic
    * `spark.range` aggregate warmed less: the first job ran ~2.5 s slower.
    */
  val PrimeQuery = "q01_pricing_summary"

  /** The ETL jobs run on a sibling session: the row counts of query tasks
    * use `Dataset.observe`, which leaves the session holding a
    * non-serializable ObservationManager, and MLlib model summaries capture
    * their session in task closures.  Settings are shared through the
    * SparkContext; the check below holds them equal.
    */
  private def siblingSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    for (k <- Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
                  "spark.sql.session.timeZone", "spark.sql.adaptive.skewJoin.enabled"))
      require(s.conf.get(k) == spark.conf.get(k), s"ETL session differs in $k")
    s
  }

  private def etlTasks(session: Option[SparkSession], o: Map[String, String], out: File)
      : Seq[(String, () => Long)] = {
    val wanted = o.getOrElse("jobs", "").split(",").filter(_.nonEmpty).toSeq
    wanted.foreach(j => require(Jobs(j), s"unknown ETL job $j"))
    if (wanted.isEmpty) return Nil
    val jobs = session.get
    val in = o("etl")
    val expect: Map[String, Long] =
      Json.flatLongs(new String(Files.readAllBytes(Paths.get(o("expect"))), "UTF-8"))
    var call = 0
    def job(name: String)(run: String => Unit): (String, () => Long) = name -> (() => {
      call += 1
      val dir = new File(out, s"jobs/$call-$name")
      run(dir.getPath)
      checkOutputs(dir, name, expect)
    })
    Seq(
      job("cases_time")(d => CasesTimeAnalysis.run(jobs, s"$in/cases_time.csv", d)),
      job("clinical")(d => ClinicalAnalysis.run(jobs, s"$in/clinical.csv", d)),
      job("research")(d => ResearchChallengeAnalysis.run(jobs, Seq(s"$in/cord19/pdf_json" -> "pdf_json"), d)),
      job("radiography")(d => RadiographyAnalysis.run(jobs, s"$in/radiography", d)))
      .filter { case (n, _) => wanted.contains(n) }
  }

  /** Every expected output of `job` holds exactly one JSON part with the
    * expected number of lines.  Returns the total rows written.
    */
  private def checkOutputs(dir: File, job: String, expect: Map[String, Long]): Long = {
    val mine = expect.collect { case (k, v) if k.startsWith(job + ".") => k.drop(job.length + 1) -> v }
    require(mine.nonEmpty, s"no expected outputs for $job")
    mine.toSeq.sorted.map { case (name, want) =>
      val parts = Option(new File(dir, name).listFiles).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      require(parts.length == 1, s"$job/$name has ${parts.length} JSON parts, expected 1")
      val rows = Files.lines(parts.head.toPath).count()
      require(rows == want, s"$job/$name has $rows rows, expected $want")
      rows
    }.sum
  }
}

/** Minimal JSON helpers (the benchmark carries no JSON dependency of its own). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Reads a JSON object of objects of integers as `outer.inner -> n`
    * (or a flat object as `key -> n`).
    */
  def flatLongs(text: String): Map[String, Long] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    node.fields().asScala.flatMap { e =>
      if (e.getValue.isObject) e.getValue.fields().asScala
        .filter(_.getValue.isNumber).map(i => s"${e.getKey}.${i.getKey}" -> i.getValue.asLong)
      else if (e.getValue.isNumber) Iterator(e.getKey -> e.getValue.asLong)
      else Iterator.empty
    }.toMap
  }
}
