package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Command line of one benchmark run. `tiny`, set only by the smoke
  * test, shrinks every input; the command line always runs at full size. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      workDir: Path, sfDir: Option[Path] = None, tiny: Boolean = false)

object Args {
  val Workloads: Seq[String] = Seq("build", "contract")

  val Usage: String =
    "usage: perfbench.Main --workload <build|contract> --seed <n> " +
      "--seconds <n> --trace <0|1> --work-dir <dir> [--sf-dir <dir>]"

  /** Parses and validates the command line before any Spark start:
    * Left(message) on an unknown workload or a malformed value. */
  def parse(argv: Seq[String]): Either[String, Args] = {
    val known = Set("--workload", "--seed", "--seconds", "--trace", "--work-dir", "--sf-dir")
    val kv = mutable.Map.empty[String, String]
    var rest = argv.toList
    while (rest.nonEmpty) rest match {
      case k :: _ if !known(k) => return Left(s"unknown argument '$k'\n$Usage")
      case k :: v :: tail => kv(k) = v; rest = tail
      case k :: Nil => return Left(s"$k needs a value\n$Usage")
      case Nil =>
    }
    def need(k: String): Either[String, String] = kv.get(k).toRight(s"missing $k\n$Usage")
    for {
      w <- need("--workload")
      _ <- if (Workloads.contains(w)) Right(()) else
        Left(s"unknown workload '$w' (expected one of ${Workloads.mkString(", ")})\n$Usage")
      seed <- need("--seed").flatMap(s => s.toLongOption.filter(_ >= 0)
        .toRight(s"--seed must be a non-negative integer, got '$s'"))
      secs <- need("--seconds").flatMap(s => s.toIntOption.filter(n => n >= 1 && n <= 600)
        .toRight(s"--seconds must be an integer in 1..600, got '$s'"))
      trace <- need("--trace").flatMap {
        case "0" => Right(false)
        case "1" => Right(true)
        case t => Left(s"--trace must be 0 or 1, got '$t'")
      }
      dir <- need("--work-dir")
      sf <- kv.get("--sf-dir") match {
        case None if w == "contract" => Left(s"the contract workload needs --sf-dir\n$Usage")
        case o => Right(o.map(Paths.get(_).toAbsolutePath))
      }
    } yield Args(w, seed, secs, trace, Paths.get(dir).toAbsolutePath, sf)
  }
}

/** Metric values and the run's tally of attempted and failed
  * operations. End-to-end metrics are filled by untraced runs, layer
  * metrics by traced runs; the JSON result carries the metrics
  * BENCHMARK.json declares, and one the workload does not reach reads 0. */
final class Report(val trace: Boolean) {
  val values = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def set(name: String, v: Double): Unit = values(name) = v
  def setAll(kvs: Iterable[(String, Double)]): Unit = kvs.foreach { case (k, v) => set(k, v) }

  /** A human-readable line for a figure that is not one of the JSON
    * metrics (or is, printed with its unit as it is measured). */
  def line(name: String, v: Double, unit: String): Unit =
    println(f"metric $name%-34s ${Json.num(v)}%s $unit")

  /** Runs one checked operation: it fails if it throws or if `check`
    * returns any problem. Returns the value when it succeeded. */
  def op[T](what: String)(body: => T)(check: T => Seq[String]): Option[T] = {
    attempted += 1
    try {
      val r = body
      val problems = check(r)
      if (problems.isEmpty) Some(r)
      else {
        failed += 1
        problems.foreach(p => failures += s"$what: $p")
        None
      }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += 1
        failures += s"$what: threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  def resultJson(): String = {
    val declared = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val body = declared.map { case (name, unit) =>
      s""""$name": {"value": ${Json.num(values.getOrElse(name, 0.0))}, "unit": "$unit"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": ${math.max(attempted, 1L)}, """ +
      s""""failed": $failed, "metrics": {$body}}"""
  }
}

/** Everything a workload needs: the session, its arguments, the span
  * recorder and the report. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer,
                val report: Report, val jvmStartMs: Long) {
  val cores: Int = Main.Cores
  private var timedStartNs = -1L
  var dataGenS = 0.0

  /** Marks the start of the first timed operation: set-up time is
    * process start to here, less the once-per-seed data generation. */
  def startTiming(): Unit = if (timedStartNs < 0) {
    timedStartNs = System.nanoTime()
    val sinceStart = System.currentTimeMillis() / 1e3 - jvmStartMs / 1e3
    report.set("setup_s", sinceStart - dataGenS)
  }

  /** Runs `op` back to back (closed loop, one client) until `seconds`
    * have passed and at least `minOps` ran; returns each op's wall. */
  def loop(seconds: Double, minOps: Int)(op: Int => Unit): Seq[Double] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (walls.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val a = System.nanoTime()
      op(i)
      walls += (System.nanoTime() - a) / 1e9
      i += 1
    }
    System.err.println(f"[perfbench] op walls (s): ${walls.map(w => f"$w%.3f").mkString(" ")}")
    walls.toSeq
  }

  def workDir: Path = args.workDir
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Main {
  /** Task slots of the closed-loop client: local[4]. */
  val Cores = 4

  def session(args: Args, cores: Int = Cores): SparkSession = session(args.workDir, args.workload, cores)

  def session(workDir: Path, name: String, cores: Int): SparkSession = {
    val local = workDir.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv.toSeq) match {
      case Right(a) => a
      case Left(msg) =>
        System.err.println(msg)
        sys.exit(2)
    }
    // the contract list is checked before Spark starts, so a dropped or
    // renamed query fails in a second, not after a session start
    if (args.workload == "contract") ContractWorkload.validateNames() match {
      case Some(msg) => System.err.println(msg); sys.exit(2)
      case None =>
    }
    val report = run(args)
    report.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    println(report.resultJson())
    System.out.flush()
    sys.exit(if (report.failed == 0) 0 else 1)
  }

  /** One run of one workload; returns the filled report. */
  def run(args: Args): Report = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.workDir)
    val runId = s"${args.workload}-seed${args.seed}-${System.currentTimeMillis()}"
    val tracer = new Tracer(args.trace, runId)
    val report = new Report(args.trace)
    val spark = session(args)
    try {
      val ctx = new Ctx(spark, args, tracer, report, jvmStartMs)
      args.workload match {
        case "build" => BuildWorkload.run(ctx)
        case "contract" => ContractWorkload.run(ctx)
      }
      if (args.trace) {
        val out = args.workDir.resolve("spans").resolve(s"$runId.jsonl")
        tracer.write(out)
        println(s"spans ${tracer.all.size} written to $out")
      }
      report.line("failed_frac", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
    } finally SparkSession.getActiveSession.foreach(_.stop())
    report
  }
}
