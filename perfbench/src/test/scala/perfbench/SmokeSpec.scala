package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Each workload once at tiny scale: every declared metric is reported,
  * the end-to-end ones are positive, and no operation fails. The metric
  * names come from BENCHMARK.json. */
class SmokeSpec extends AnyFunSuite {
  private val work = Files.createTempDirectory("perfbench-smoke")
  private val sf = Paths.get("testdata", "sf0.001").toAbsolutePath

  private def run(workload: String, trace: Boolean): Report =
    Main.run(Args(workload, seed = 7, seconds = 1, trace = trace, workDir = work,
      sfDir = Some(sf), tiny = true))

  test("contract query names are validated against SparkEntry") {
    assert(ContractWorkload.validateNames().isEmpty)
    assert(Args.parse(Seq("--workload", "nope", "--seed", "1", "--seconds", "1", "--trace", "0",
      "--work-dir", work.toString)).left.exists(_.contains("unknown workload")))
  }

  private val tracedKeys = scala.collection.mutable.Set.empty[String]

  // the traced build confines the JVM to one core at its end: it runs last
  for ((w, trace) <- Seq("build" -> false, "contract" -> false, "contract" -> true,
      "build" -> true)) {
    test(s"$w, trace=$trace") {
      val r = run(w, trace)
      assert(r.failed == 0, r.failures.mkString("; "))
      assert(r.attempted > 0)
      if (trace) tracedKeys ++= r.values.keys
      else Metrics.EndToEnd.foreach { case (n, _) => assert(r.values.getOrElse(n, 0.0) > 0, n) }
    }
  }

  test("the traced runs set every per-layer metric BENCHMARK.json declares, and no other") {
    val declared = Metrics.PerLayer.map(_._1).toSet
    assert((declared -- tracedKeys).isEmpty)
    assert((tracedKeys -- declared -- Metrics.EndToEnd.map(_._1)).isEmpty)
  }
}
