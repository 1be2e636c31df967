package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** What one timed iteration reports: its wall time, the rows it landed or
  * returned, and (traced iterations only) its per-layer values.
  */
final case class Iter(seconds: Double, rows: Long, layer: Map[String, Double])

trait Workload {
  /** Builds the workload's inputs, once per run. */
  def stage(spark: SparkSession): Unit
  /** Untimed iterations that fill JIT, codegen and page caches; run once. */
  def warmup(spark: SparkSession): Unit
  def iteration(spark: SparkSession, traced: Boolean): Iter
  /** Correctness checks left for after the timed window. */
  def check(spark: SparkSession): Unit = ()
  /** The digests the checks compare against, as the program computes them now. */
  def record(spark: SparkSession): Seq[(String, Checksum.Digest)]
  def close(): Unit = ()
}

/** Run-wide state shared by the workloads: tracing, operation and
  * correctness accounting, and the work directory.
  */
final class Ctx(val nproc: Int, val work: File) {
  val tracer = new Tracer
  var attempted = 0
  var failed = 0
  var correct = true

  /** Runs one counted operation; a throw counts as a failure. */
  def attempt[A](label: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failed += 1
      correct = false
      System.err.println(s"[perfbench] $label failed: $e")
      None
    }
  }

  /** One correctness check; a mismatch counts as a failure. */
  def expect(label: String, want: Option[String], got: String): Unit = {
    attempted += 1
    if (!want.contains(got)) {
      failed += 1
      correct = false
      System.err.println(s"[perfbench] $label: want ${want.getOrElse("<none>")}, got $got")
    }
  }

  def counters(spark: SparkSession, traced: Boolean): Option[SparkCounters] =
    if (traced) Some(SparkCounters.on(spark.sparkContext)) else None

  /** The spark.* layer metrics between snapshot `b` and now, over `wall`. */
  def sparkMetrics(spark: SparkSession, c: SparkCounters,
      b: SparkCounters.Snapshot, wall: Double): Seq[(String, Double)] = {
    c.drain(spark.sparkContext)
    val d = c.snapshot - b
    val cpu = d.cpuNs / 1e9
    val sorted = d.taskMs.sorted
    val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
    Seq(
      "spark.jobs" -> d.jobs.toDouble,
      "spark.stages" -> d.stages.toDouble,
      "spark.tasks" -> d.tasks.toDouble,
      "spark.executor_run_s" -> d.runMs / 1e3,
      "spark.executor_cpu_s" -> cpu,
      "spark.gc_s" -> d.gcMs / 1e3,
      "spark.cpu_util" -> (if (wall > 0) cpu / (wall * nproc) else 0.0),
      "spark.shuffle_write_mb" -> d.shuffleWrite / 1048576.0,
      "spark.shuffle_read_mb" -> d.shuffleRead / 1048576.0,
      "spark.spill_mb" -> d.spill / 1048576.0,
      "spark.task_skew" -> (if (median > 0) sorted.last.toDouble / median else 0.0),
      "spark.failed_tasks" -> d.failedTasks.toDouble)
  }
}

/** Benchmark entry point:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --corpus <dir> --work <dir> --expected <file> --trace-dir <dir>
  *                [--record <file>]
  * }}}
  * Set-up (the median of three session starts, then staging and the
  * warm-up) is timed as `setup_s`. Timed iterations then run until their
  * summed time reaches `--seconds`. With `--trace 1` iterations alternate
  * untraced and traced (at least three); the traced ones give the per-layer
  * metrics and the ratio of the two gives `trace.overhead`. The last line of stdout is the result JSON.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val corpus = new File(opt("corpus"))
    val work = new File(opt("work"))
    val nproc = Runtime.getRuntime.availableProcessors
    val ctx = new Ctx(nproc, work)
    val recording = opts.get("record").map(new File(_))
    val expected =
      if (recording.isDefined) Map.empty[String, Checksum.Digest]
      else Expected.load(new File(opt("expected")))
    val wl: Workload = workloadName match {
      case "clone" => new CloneWorkload(corpus, expected, seed, ctx)
      case "query" => new QueryWorkload(s"$corpus/sf0.01", expected, seed, ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // The session start is repeated and its median taken; staging builds
    // the benchmark's own inputs without calling the program, so it runs once.
    var spark: SparkSession = null
    val starts = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(nproc, work)
      (System.nanoTime() - t0) / 1e9
    }
    val s0 = System.nanoTime()
    wl.stage(spark)
    val staging = (System.nanoTime() - s0) / 1e9
    recording.foreach { f =>
      Expected.write(f, wl.record(spark))
      wl.close()
      spark.stop()
      sys.exit(0)
    }
    val w0 = System.nanoTime()
    wl.warmup(spark)
    val warm = (System.nanoTime() - w0) / 1e9
    val setupS = median(starts) + staging + warm

    val iters = ArrayBuffer.empty[(Boolean, Iter)]
    def measured = iters.map(_._2.seconds).sum
    // traced runs go untraced, traced, untraced at least, so the traced
    // iteration is compared with iterations on both sides of it as they warm
    while (iters.isEmpty || measured < seconds || (trace && iters.size < 3)) {
      val traced = trace && iters.size % 2 == 1
      ctx.tracer.enabled = traced
      ctx.tracer.iter = iters.size
      val it = wl.iteration(spark, traced)
      ctx.tracer.enabled = false
      spark.catalog.clearCache()
      val leaks = Map(
        "spark.persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
        "jvm.heap_retained_mb" -> Memory.heapRetainedMb(),
        "jvm.peak_rss_mb" -> Memory.peakRssMb())
      iters += traced -> it.copy(layer = it.layer ++ leaks)
    }
    wl.check(spark)
    wl.close()
    spark.stop()

    val timed = iters.filterNot(_._1).map(_._2)
    val iterS = median(timed.map(_.seconds).toSeq)
    val rows = median(timed.map(_.rows.toDouble).toSeq)
    System.out.println(f"[perfbench] $workloadName seed=$seed: ${timed.size} timed iterations " +
      s"(${timed.map(i => f"${i.seconds}%.3f").mkString(", ")} s); session starts " +
      s"(${starts.map(s => f"$s%.3f").mkString(", ")} s), staging ${"%.3f".format(staging)} s, " +
      s"warm-up ${"%.3f".format(warm)} s")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("iter_s", iterS, "s"),
        ("rows_per_s", rows / iterS, "rows/s"))
      else {
        val traced = iters.filter(_._1).map(_._2).toSeq
        val overhead = median(traced.map(_.seconds)) / iterS - 1
        Layers.all.map { case (n, unit) =>
          val v = if (n == "trace.overhead") overhead
            else if (n == "setup.warmup_s") warm
            else median(traced.map(_.layer.getOrElse(n, 0.0)))
          (n, v, unit)
        }
      }
    if (trace) {
      val f = new File(opt("trace-dir"), s"trace-$workloadName-$seed.json")
      val self = ctx.tracer.selfSeconds.toSeq.sortBy(_._1)
        .map { case (n, s) => s"${Json.str(n)}:${Json.num(s)}" }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(f.toPath,
        s"""{"self_s":$self,"spans":${ctx.tracer.toJson}}""")
      System.out.println(s"[perfbench] spans written to $f")
    }
    metrics.foreach { case (n, v, u) => System.out.println(f"[perfbench] $n%-28s ${Json.num(v)} $u") }
    System.out.println(s"[perfbench] attempted ${ctx.attempted}, failed ${ctx.failed}, correct ${ctx.correct}")
    val m = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{${"\"value\""}:${Json.num(v)},${"\"unit\""}:${Json.str(u)}}"
    }.mkString("{", ",", "}")
    System.out.println(s"""{"correct":${ctx.correct},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":$m}""")
    System.out.flush()
    sys.exit(if (ctx.correct) 0 else 1)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** A `local[nproc]` session configured like the program's own bench, with
    * every file it may create kept under the work directory.
    */
  def session(nproc: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "1")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Per-layer metrics printed by the traced run, with their units. A layer
  * a workload does not use reads 0 there.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "pipeline.clone_s" -> "s", "pipeline.copy_sum_s" -> "s", "pipeline.overlap" -> "ratio",
    "pipeline.slowest_table_s" -> "s", "pipeline.bytes_ratio" -> "ratio",
    "ddl.render_s" -> "s", "ddl.statements" -> "count", "ddl.bytes" -> "bytes",
    "ddl.spark_jobs" -> "count",
    "catalog.introspect_s" -> "s", "catalog.tables" -> "count",
    "catalog.constraints" -> "count", "catalog.verify_s" -> "s",
    "writers.parquet_s" -> "s", "writers.files_out" -> "count", "writers.bytes_out" -> "bytes",
    "writers.jdbc_s" -> "s", "writers.jdbc_identity_s" -> "s", "writers.rows" -> "count",
    "readers.jdbc_s" -> "s", "readers.partitions" -> "count", "readers.rows" -> "count",
    "script.constrain_s" -> "s", "script.batches" -> "count", "script.failed" -> "count",
    "jdbc.clone_s" -> "s",
    "ref_posture.clone_s" -> "s", "ref_posture.speedup" -> "ratio",
    "literals.rows" -> "count", "literals.render_s" -> "s",
    "entry.prepare_s" -> "s", "plans.plan_s" -> "s", "exec.run_s" -> "s") ++
    QueryWorkload.ids.flatMap(id => Seq(s"q.${id}_s" -> "s", s"q.$id.jobs" -> "count",
      s"q.$id.shuffle_mb" -> "MB")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.cpu_util" -> "ratio", "spark.shuffle_write_mb" -> "MB",
      "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio",
      "spark.failed_tasks" -> "count",
      "spark.persisted_rdds" -> "count", "jvm.heap_retained_mb" -> "MB", "jvm.peak_rss_mb" -> "MB",
      "setup.warmup_s" -> "s", "trace.overhead" -> "ratio")
}

/** Result digests recorded from the program, one `id rows hash` line each. */
object Expected {
  def load(f: File): Map[String, Checksum.Digest] =
    scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8")) { src =>
      src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(id, rows, hash) = l.split("\\s+")
        id -> Checksum.Digest(rows.toLong, hash)
      }.toMap
    }

  def write(f: File, rs: Seq[(String, Checksum.Digest)]): Unit =
    java.nio.file.Files.writeString(f.toPath,
      rs.sortBy(_._1).map { case (id, d) => s"$id $d" }.mkString("", "\n", "\n"))
}
