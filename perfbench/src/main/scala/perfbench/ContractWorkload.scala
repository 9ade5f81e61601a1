package perfbench

import graft.SparkEntry
import graft.queries._
import org.apache.spark.sql.Row

import scala.io.Source

/** `contract`: the contract queries of `SparkEntry.queries`,
  * executed one after another on the checked-in sf0.001 tables.
  *
  * The full list (130 names) is banked in `contract.tsv` with each
  * query's family, whether the benchmark times it, and the digest of its
  * result, which was verified against DuckDB for every query that has an
  * `oracleSql` entry. A full sweep takes ~95 s warm on 4 cores, beyond
  * one run's budget, so the benchmark times a fixed subset spanning
  * every family it can run; the webpages family is never run, because
  * its queries write a fixed table outside the working directory. */
object ContractWorkload {

  final case class Entry(name: String, family: String, timed: Boolean, digest: String, oracle: String)

  /** The banked list, from the classpath. */
  lazy val banked: Seq[Entry] = {
    val in = getClass.getResourceAsStream("/perfbench/contract.tsv")
    require(in != null, "perfbench/contract.tsv is not on the classpath")
    val src = Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, f, t, d, o) = l.split('\t')
      Entry(n, f, t == "1", d, o)
    }.toList finally src.close()
  }

  val ExpectedQueries = 130

  val WarmSweeps = 2
  val TimedSweeps = 2

  /** The streaming gate the traced run times. */
  val StreamGate = "stream_decayed_trending_check"

  /** None when `SparkEntry.queries` is exactly the banked list of 130
    * names; otherwise what differs. */
  def validateNames(): Option[String] = {
    val live = SparkEntry.queries.keySet
    val bank = banked.map(_.name).toSet
    if (live == bank && live.size == ExpectedQueries) None
    else Some(s"contract query list changed: ${live.size} live, ${bank.size} banked (expected " +
      s"$ExpectedQueries); missing from SparkEntry: ${(bank -- live).toSeq.sorted.mkString(",")}; " +
      s"not banked: ${(live -- bank).toSeq.sorted.mkString(",")}")
  }

  def familyOf(name: String): String =
    if (SketchQueries.queries.contains(name)) "sketch"
    else if (PipelineQueries.queries.contains(name)) "pipeline"
    else if (DataPipelineQueries.queries.contains(name)) "data_pipeline"
    else if (WebPagesQueries.queries.contains(name)) "webpages"
    else if (RelationalQueries.queries.contains(name)) "relational"
    else "entry"

  /** One execution of `name`, collecting its result. The construction
    * (which may run actions of its own), the physical plan and the
    * execution are each a span; with a listener, the actions run by the
    * construction and the jobs of the whole query are counted. */
  final case class Exec(rows: Array[Row], constructS: Double, planS: Double, execS: Double,
                        constructActions: Int, jobs: Int)

  def execute(ctx: Ctx, name: String, dir: String, l: Option[StageListener]): Exec = {
    val fn = SparkEntry.queries(name)
    l.foreach(_.reset())
    val (df, c) = ctx.tracer.span("queries.construct")(fn(ctx.spark, dir))
    val actions = l.map(_.read()._1.count(_.sql)).getOrElse(0)
    val (_, p) = ctx.tracer.span("queries.plan")(df.queryExecution.executedPlan)
    val (rows, e) = ctx.tracer.span("queries.exec")(df.collect())
    Exec(rows, c.seconds, p.seconds, e.seconds, actions, l.map(_.read()._1.size).getOrElse(0))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    val dir = ctx.args.sfDir.getOrElse(sys.error("the contract workload needs --sf-dir")).toString
    ctx.tracer.span("functions.ensure")(graft.functions.Graft.ensure(spark)) match {
      case (_, s) => rep.set("functions.ensure_s", s.seconds)
    }
    // the input is checked in: nothing is generated (data.gen_s stays 0)
    rep.set("data.table_mb", Webpages.treeBytes(java.nio.file.Paths.get(dir)) / 1e6)

    val all = banked.filter(_.timed)
    val subset = if (ctx.args.tiny) all.take(3) else all
    def once(e: Entry, what: String, l: Option[StageListener]): Option[Exec] =
      rep.op(s"$what ${e.name}")(ctx.tracer.span(s"query.${e.name}")(execute(ctx, e.name, dir, l))._1) { x =>
        val d = Digest.of(x.rows)
        if (d == e.digest) Nil else Seq(s"result digest $d != banked ${e.digest}")
      }

    // untimed sweeps: the first runs every query cold; after one warm
    // sweep the next was still ~10 % faster (JIT), after two ~5 %
    for (i <- 1 to WarmSweeps)
      ctx.tracer.span("setup.warm_pass")(subset.foreach(e => once(e, s"warm $i", None)))
    if (rep.failed > 0) return

    val rng = new scala.util.Random(ctx.args.seed)
    val splits = scala.collection.mutable.Map.empty[String, Exec]
    /** One sweep over the subset in a seed-shuffled order; each query's wall. */
    def sweep(listener: Option[StageListener]): Map[String, Double] =
      rng.shuffle(subset).flatMap { e =>
        val t0 = System.nanoTime()
        once(e, "timed", listener).map { r =>
          if (listener.nonEmpty) splits(e.name) = r
          e.name -> (System.nanoTime() - t0) / 1e9
        }
      }.toMap
    def medians(sweeps: Seq[Map[String, Double]]): Map[String, Double] =
      sweeps.flatten.groupBy(_._1).map { case (n, ws) => n -> Stats.median(ws.map(_._2)) }

    ctx.startTiming()
    if (!ctx.args.trace) {
      val done = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      ctx.loop(ctx.args.seconds, TimedSweeps)(_ => done += sweep(None))
      val med = medians(done.toSeq)
      if (med.isEmpty) return
      val sweepS = med.values.sum
      rep.set("throughput_per_s", med.size / sweepS)
      rep.set("op_p50_s", Stats.median(med.values.toSeq))
      rep.line("sweep_s", sweepS, "s")
      rep.line("query_p50_s", Stats.median(med.values.toSeq), "s")
      rep.line("query_p90_s", Stats.quantile(med.values.toSeq, 0.9), "s")
      rep.line("queries_timed", med.size.toDouble, "count")
      rep.line("sweeps", done.size.toDouble, "count")
      return
    }

    // untraced and traced sweeps in ABBA order, so that the warm-up trend
    // does not bias the overhead figure
    val byMode = Seq(false, true, true, false).map { traced =>
      val l = if (traced) Some(new StageListener(spark.sparkContext)) else None
      traced -> (try sweep(l) finally l.foreach(_.detach()))
    }
    val med = medians(byMode.filter(_._1).map(_._2))
    val plain = medians(byMode.filterNot(_._1).map(_._2))
    rep.set("trace.overhead_frac", med.values.sum / plain.values.sum - 1.0)
    val byFamily = subset.groupBy(_.family)
    Metrics.Families.foreach { f =>
      rep.set(s"queries.${f}_s", byFamily.getOrElse(f, Nil).flatMap(e => med.get(e.name)).sum)
    }
    // streaming gates cost seconds each, too much for the timed sweep:
    // the traced run times one of them, warm
    val stream = banked.find(_.name == StreamGate).get
    once(stream, "stream warm", None)
    rep.set("queries.stream_s", once(stream, "stream", None).map(x => x.constructS + x.planS + x.execS).getOrElse(0.0))
    rep.set("queries.construct_s", splits.values.map(_.constructS).sum)
    rep.set("queries.plan_s", splits.values.map(_.planS).sum)
    rep.set("queries.exec_s", splits.values.map(_.execS).sum)
    rep.set("queries.jobs", splits.values.map(_.jobs).sum.toDouble)
    // queries that ran an action while being built, before their own
    rep.set("queries.multi_action", splits.values.count(_.constructActions > 0).toDouble)

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sample = docs.select("doc_id", "text").collect()
    ctx.tracer.span("core.kernels")(Kernels.run(ctx, sample.map(_.get(0).toString), sample.map(_.getString(1))))
  }
}

/** Order-independent digest of a query result: each row rendered with
  * doubles rounded to 6 significant digits, binaries as hex, nested
  * values recursively; rows sorted; SHA-256 of the lines, first 16 hex
  * digits. */
object Digest {
  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => render(k) + "->" + render(x) }.toSeq.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toString

  def lines(rows: Array[Row]): Array[String] = rows.map(render).sorted

  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines(rows).foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
