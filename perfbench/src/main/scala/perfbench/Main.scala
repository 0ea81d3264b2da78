package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run produced. `e2e` holds the end-to-end metrics
  * (measured with tracing off), `layer` the per-layer metrics of a
  * traced run; `info` is free-form context for the result file. */
final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
                         layer: Map[String, Double], info: Map[String, String])

/** Run context shared by the workloads. */
final case class Ctx(spark: SparkSession, gen: Gen, seconds: Int, trace: Boolean,
                     work: Path, nproc: Int, log: String => Unit) {
  val tracer = new Tracer(trace)
}

/** Entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints progress on stderr and, as the last stdout line, one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`. */
object Main {

  /** End-to-end metrics and their units, reported by every workload. */
  val E2e: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "qps" -> "1/s", "p50_ms" -> "ms", "tail_ms" -> "ms")

  /** Per-layer metrics and their units, reported by every traced run
    * (0 where a layer does no work on the workload). */
  val PerLayer: Seq[(String, String)] = Seq(
    "server.overhead_ms" -> "ms", "server.parse_us" -> "us", "server.write_us" -> "us",
    "query.fast_ratio" -> "ratio", "query.fast_us" -> "us", "query.job_ms" -> "ms", "query.self_ms" -> "ms",
    "core.tokenize_us" -> "us", "core.score_us" -> "us", "core.wratio_calls" -> "count",
    "core.self_ms" -> "ms",
    "etl.probe_us" -> "us", "etl.candidates" -> "count", "etl.hit_ratio" -> "ratio",
    "etl.build_s" -> "s", "etl.self_ms" -> "ms",
    "ext.maintain_s" -> "s",
    "ext.ann_ivf.wall_s" -> "s", "ext.ann_ivf.jobs" -> "count", "ext.ann_ivf.bytes_written" -> "bytes",
    "ext.dd_minhash.wall_s" -> "s", "ext.dd_minhash.jobs" -> "count", "ext.dd_minhash.bytes_written" -> "bytes",
    "ext.ta_bm25.wall_s" -> "s", "ext.ta_bm25.jobs" -> "count", "ext.ta_bm25.bytes_written" -> "bytes",
    "streaming.wall_s" -> "s", "streaming.jobs" -> "count",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.analysis_ms" -> "ms", "spark.optimize_ms" -> "ms", "spark.plan_ms" -> "ms",
    "spark.exec_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.shuffle_bytes" -> "bytes",
    "trace.overhead_pct" -> "%")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "forward_hot" -> (c => Serve.forwardHot(c)),
    "forward_scan" -> (c => Serve.forwardScan(c)),
    "registry_slice" -> (c => RegistrySlice.run(c)))

  def main(args: Array[String]): Unit =
    try runMain(args)
    catch {
      case e: Throwable =>
        // exit explicitly: the server's worker threads would keep the
        // JVM alive after an uncaught exception
        e.printStackTrace()
        System.exit(2)
    }

  private def runMain(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val body = Workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload' (known: ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val root = Paths.get(opts.getOrElse("out", ".bench_build")).toAbsolutePath
    val work = Paths.get(System.getProperty("java.io.tmpdir"))
      .resolve(s"perfbench-$workload-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors()
    val master = s"local[$nproc]"
    def log(s: String): Unit = System.err.println(s"[perfbench] $s")

    val gen = new Gen(seed)
    require(gen.fingerprint == new Gen(seed).fingerprint, "generator is not deterministic for one seed")

    val spark = SparkSession.builder().master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(f"spark up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s after JVM start")

    val ctx = Ctx(spark, gen, seconds, trace, work, nproc, log)
    val out = body(ctx)
    val correct = out.failed == 0
    val metrics =
      if (trace) PerLayer.map { case (k, u) => k -> (out.layer.getOrElse(k, 0.0), u) }
      else E2e.map { case (k, u) => k -> (out.e2e(k), u) }

    val env = Map(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (trace) "1" else "0"), "nproc" -> nproc.toString, "spark_master" -> master,
      "jdk" -> System.getProperty("java.version"), "spark_version" -> spark.version) ++ out.info
    val resultsDir = root.resolve("results")
    Files.createDirectories(resultsDir)
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    if (trace) ctx.tracer.write(resultsDir.resolve(s"$tag.spans.jsonl"))
    spark.stop()
    deleteTree(work)

    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val metricsJson = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    val extraJson = (out.e2e ++ out.layer).toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val envJson = env.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${q(v)}""" }.mkString("{", ",", "}")
    val line = s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"metrics":$metricsJson}"""
    Files.write(resultsDir.resolve(s"$tag.json"),
      s"""{"env":$envJson,"all_metrics":$extraJson,"result":$line}\n""".getBytes("UTF-8"))
    println(s"""{"env":$envJson}""")
    println(line)
    System.out.flush()
    sys.exit(0)
  }

  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

/** Order statistics over a sample. */
object Stats {
  /** Nearest-rank percentile: the ceil(p*n)-th smallest value. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
