package perfbench

import graft.functions.Graft
import graft.pipeline.Flagship

/** `build`: the flagship job, `Flagship.run`, over the seed's webpages
  * table: per-(lang, host) sketches, per-lang token sketches, the sharded
  * global EBF (phases 1-3, the write path), then a phase-4 probe widened
  * to 3,000,000 held-out non-member urls plus every member url (the read
  * path, about a third of an operation's wall). One operation is one
  * `Flagship.run`. */
object BuildWorkload {

  val WarmPasses = 3
  val TimedPasses = 3

  def nProbes(tiny: Boolean): Long = if (tiny) 50000L else 3000000L

  /** FPR slack over the classic bound: four binomial standard errors of
    * the measured rate. */
  def fprLimit(bound: Double, probes: Long): Double =
    bound + 4.0 * math.sqrt(bound * (1 - bound) / probes)

  /** The checks every pass must pass; `first` is the run's first pass. */
  def check(r: Flagship.Result, rows: Long, probes: Long,
            first: Option[Flagship.Result]): Seq[String] = {
    val p = Seq.newBuilder[String]
    if (r.rows != rows) p += s"rows ${r.rows} != generated $rows"
    if (r.falseNegatives != 0) p += s"${r.falseNegatives} false negatives"
    if (r.fprMeasured > fprLimit(r.fprBound, probes))
      p += f"FPR ${r.fprMeasured}%.5f above bound ${r.fprBound}%.5f + binomial slack"
    first.foreach { f =>
      if (r.hostGroups != f.hostGroups) p += s"host groups ${r.hostGroups} != first pass ${f.hostGroups}"
      if (r.ebfBytes != f.ebfBytes) p += s"EBF bytes ${r.ebfBytes} != first pass ${f.ebfBytes}"
    }
    p.result()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tiny = ctx.args.tiny
    val rows = Webpages.rows(tiny)
    val probes = nProbes(tiny)
    val rep = ctx.report
    ctx.tracer.span("functions.ensure")(Graft.ensure(spark)) match {
      case (_, s) => rep.set("functions.ensure_s", s.seconds)
    }
    val ((path, mb), gen) = ctx.tracer.span("data.gen") {
      Webpages.generate(spark, ctx.workDir, ctx.args.seed, rows)
    }
    ctx.dataGenS = gen.seconds
    rep.set("data.gen_s", gen.seconds)
    rep.set("data.table_mb", mb)

    def pass(): Flagship.Result = Flagship.run(spark, path, nProbes = probes)
    // untimed passes: the first compiles; the next ones still get faster
    // (JIT), so timing starts after WarmPasses of them
    val first = ctx.tracer.span("setup.warm_pass") {
      rep.op("warm pass")(pass())(check(_, rows, probes, None))
    }._1
    if (first.isEmpty) return
    for (i <- 2 to WarmPasses)
      ctx.tracer.span("setup.warm_pass")(rep.op(s"warm pass $i")(pass())(check(_, rows, probes, first)))

    val results = scala.collection.mutable.ArrayBuffer.empty[Flagship.Result]
    def timed(seconds: Double, minOps: Int, listener: Option[StageListener]): Seq[Double] = {
      ctx.startTiming()
      ctx.loop(seconds, minOps) { i =>
        listener.foreach(_.reset())
        val (r, op) = ctx.tracer.span("op.flagship")(
          rep.op(s"pass $i")(pass())(check(_, rows, probes, first)))
        r.foreach { res =>
          results += res
          listener.foreach(l => attribute(ctx, l, res, op))
        }
      }
    }

    if (!ctx.args.trace) {
      val walls = timed(ctx.args.seconds, TimedPasses, None)
      if (results.isEmpty) return
      val docs = Stats.median(results.map(_.docsPerSec).toSeq)
      rep.set("throughput_per_s", docs)
      rep.set("op_p50_s", Stats.median(walls))
      val last = results.last
      rep.line("build_docs_per_s", docs, "docs/s")
      rep.line("probe_keys_per_s", Stats.median(results.map(r => (probes + rows) / r.probeSec).toSeq), "keys/s")
      rep.line("fpr", last.fprMeasured, "ratio")
      rep.line("fpr_bound", last.fprBound, "ratio")
      rep.line("ebf_bytes_per_doc", last.ebfBytes.toDouble / rows, "B/doc")
      rep.line("flagship_runs", walls.size.toDouble, "count")
      return
    }

    // untraced and traced passes in ABBA order, so that the warm-up trend
    // does not bias the overhead figure; the phase walls are medians over
    // all four passes, the stage counters come from the last traced one
    val byMode = Seq(false, true, true, false).map { traced =>
      val l = if (traced) Some(new StageListener(spark.sparkContext)) else None
      traced -> (try timed(0, 1, l) finally l.foreach(_.detach()))
    }
    def walls(traced: Boolean): Seq[Double] = byMode.filter(_._1 == traced).flatMap(_._2)
    rep.set("trace.overhead_frac", Stats.median(walls(true)) / Stats.median(walls(false)) - 1.0)
    if (results.isEmpty) return
    val med = results.sortBy(_.docsPerSec).apply(results.size / 2)
    rep.setAll(Seq(
      "pipeline.phase12_s" -> Stats.median(results.map(r => r.buildPerHostSec + r.cmsTokensSec).toSeq),
      "pipeline.phase3_s" -> Stats.median(results.map(_.globalEbfSec).toSeq),
      "pipeline.probe_s" -> Stats.median(results.map(_.probeSec).toSeq),
      "pipeline.build_docs_per_s" -> Stats.median(results.map(_.docsPerSec).toSeq),
      "pipeline.probe_keys_per_s" -> Stats.median(results.map(r => (probes + rows) / r.probeSec).toSeq),
      "pipeline.fpr" -> med.fprMeasured,
      "pipeline.ebf_bytes_per_doc" -> med.ebfBytes.toDouble / rows))

    val sample = spark.read.parquet(path).select("url", "text").limit(if (tiny) 2000 else 20000).collect()
    ctx.tracer.span("core.kernels")(Kernels.run(ctx, sample.map(_.getString(0)), sample.map(_.getString(1))))
    SqlAggProbes.run(ctx, path)

    // the N -> 4N pair: the same job with the whole JVM on one core
    val docs4 = rep.values("pipeline.build_docs_per_s")
    ctx.tracer.span("pipeline.scaling_1core") {
      scalingEfficiency(ctx, path, docs4)
    }._1.foreach(e => rep.set("pipeline.scaling_eff_1to4", e))
  }

  /** Splits one traced pass's jobs into the flagship phases by the call
    * site of the SQL execution (or stage) each job belongs to, and sets
    * the phase counters (the last traced pass's are the ones reported). */
  private def attribute(ctx: Ctx, l: StageListener, r: Flagship.Result, op: Span): Unit = {
    val (jobs, stages) = l.read()
    def phaseOf(details: String): String =
      if (details.contains("broadcastShards")) "broadcast"
      else if (details.contains("Flagship$.phase12Fused") || details.contains("Flagship$.phase1") ||
        details.contains("Flagship$.phase2")) "phase12"
      else if (details.contains("Flagship$.phase3")) "phase3"
      else "run"
    val byJob = jobs.sortBy(_.startMs).map(j => j.jobId -> phaseOf(j.details)).toMap
    val lastPhase3 = jobs.filter(j => byJob(j.jobId) == "phase3").map(_.endMs).maxOption.getOrElse(Long.MaxValue)
    // jobs issued directly by run(): the row count before phase 1, and
    // the phase-4 probes after phase 3
    def phase(j: JobStats): String = byJob(j.jobId) match {
      case "run" => if (j.startMs >= lastPhase3) "probe" else "count"
      case "broadcast" => "probe"
      case p => p
    }
    val jobPhase = jobs.map(j => j.jobId -> phase(j)).toMap
    val walls = Map("phase12" -> (r.buildPerHostSec + r.cmsTokensSec),
      "phase3" -> r.globalEbfSec, "probe" -> r.probeSec)
    walls.foreach { case (p, wall) =>
      val st = stages.filter(s => jobPhase.get(s.jobId).contains(p))
      ctx.report.setAll(Counters.of(st).metrics(s"pipeline.$p", ctx.cores, wall))
      val js = jobs.filter(j => jobPhase(j.jobId) == p)
      if (js.nonEmpty) ctx.tracer.recordEpochMs(s"pipeline.$p",
        js.map(_.startMs).min, js.map(_.endMs).max, op.id)
    }
    val bc = jobs.filter(j => byJob(j.jobId) == "broadcast")
    ctx.report.set("pipeline.broadcast_s", bc.map(j => (j.endMs - j.startMs) / 1e3).sum)
  }

  /** Re-runs the flagship with the process confined to one core and a
    * local[1] session; returns 4-core docs/s ÷ (4 × 1-core docs/s), the
    * 4-core speed-up divided by 4. None if `taskset` failed. */
  private def scalingEfficiency(ctx: Ctx, path: String, docs4: Double): Option[Double] = {
    ctx.spark.stop()
    val pid = ProcessHandle.current().pid()
    // `taskset -a` fails when one of the threads it listed has exited
    // before it is reached (threads of the stopped session are still
    // winding down), so it gets a few tries
    def confine(): (Int, String) = {
      val p = new ProcessBuilder("taskset", "-a", "-p", "-c", "0", pid.toString)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes())
      (p.waitFor(), out)
    }
    var result = confine()
    for (_ <- 2 to 5 if result._1 != 0) result = confine()
    if (result._1 != 0) {
      System.err.println(s"[perfbench] taskset failed: ${result._2.trim}")
      return None
    }
    val one = Main.session(ctx.args, cores = 1)
    Graft.ensure(one)
    // generated code and JIT state are per JVM, so this pass is warm
    val r = Flagship.run(one, path, nProbes = 0L)
    Some(docs4 / r.docsPerSec / 4.0)
  }
}
