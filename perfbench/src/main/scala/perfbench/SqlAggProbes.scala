package perfbench

import graft.core.{Kll, Hll}
import graft.pipeline.ShardedProbe
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The `functions` and `plans` layers on the build workload's table:
  * what a SQL user gets through the `udaf(Aggregator)` functions
  * `Graft.ensure` registers, run in the build workload's traced run. The
  * pair of queries below is checked like any operation: a per-lang query
  * with five sketch aggregates, and a per-(lang, host) build merged up to
  * lang (unsalted, so exposed to the Zipf host skew). */
object SqlAggProbes {

  /** The head token of each language's generator vocabulary. */
  val HeadToken: Map[String, String] =
    Map("en" -> "the", "fr" -> "le", "es" -> "el", "de" -> "der", "zh" -> "一")

  private val headCase =
    HeadToken.map { case (l, t) => s"WHEN '$l' THEN '$t'" }.mkString("CASE lang ", " ", " END")

  private val withLen =
    "SELECT lang, url, text, CAST(length(text) AS DOUBLE) AS text_len FROM wp"

  val PerLang: String =
    s"""SELECT lang, n, hll_estimate(hll) AS hll_est,
       |  kll_quantile(kll, 0.5D) AS k50, kll_quantile(kll, 0.9D) AS k90, kll_quantile(kll, 0.99D) AS k99,
       |  tdigest_quantile(td, 0.5D) AS t50, tdigest_quantile(td, 0.99D) AS t99,
       |  ebf_info(ebf).n AS ebf_n, cms_total(cms) AS cms_total, cms_estimate(cms, $headCase) AS cms_head
       |FROM (SELECT lang, count(1) AS n, hll_agg(url) AS hll, kll_agg(text_len) AS kll,
       |        tdigest_agg(text_len) AS td, ebf_agg(url) AS ebf, cms_tokens_agg(text) AS cms
       |      FROM ($withLen) GROUP BY lang)""".stripMargin

  val PerHost: String =
    s"""SELECT lang, parse_url(url, 'HOST') AS host, hll_agg(url) AS h, ebf_agg(url) AS e,
       |  kll_agg(text_len) AS k, tdigest_agg(text_len) AS t
       |FROM ($withLen) GROUP BY lang, parse_url(url, 'HOST')""".stripMargin

  private def mergeSql(from: String): String =
    s"""SELECT lang, count(1) AS groups, hll_estimate(hll_merge_agg(h)) AS hll_est,
       |  ebf_info(ebf_merge_agg(e)).n AS ebf_n, kll_quantile(kll_merge_agg(k), 0.5D) AS k50,
       |  tdigest_quantile(tdigest_merge_agg(t), 0.5D) AS t50
       |FROM $from GROUP BY lang""".stripMargin

  val HostMerge: String = mergeSql(s"($PerHost)")

  /** Exact per-lang values, computed once during set-up. */
  final case class Exact(rows: Long, urls: Long, hosts: Long, tokens: Long, head: Long,
                         lens: Array[Double])

  /** t-digest has no closed-form bound; this is the rank error the
    * benchmark accepts at the quantiles it reads. */
  val TdRankEps = 0.02
  val KllRankEps: Double = 2.0 * Kll.empty().normalizedRankError
  val HllRse: Double = 1.04 / math.sqrt((1 << Hll.DefaultP).toDouble)

  /** Problems with an estimate `v` of quantile `q` over sorted `a`: its
    * exact rank interval must overlap q ± eps. */
  def rankProblem(what: String, a: Array[Double], v: Double, q: Double, eps: Double): Option[String] = {
    val below = a.count(_ < v).toDouble / a.length
    val atOrBelow = a.count(_ <= v).toDouble / a.length
    if (below <= q + eps && atOrBelow >= q - eps) None
    else Some(f"$what: estimate $v%.1f has rank [$below%.4f, $atOrBelow%.4f], outside $q ± $eps%.4f")
  }

  def exact(wp: DataFrame): Map[String, Exact] = {
    val tok = "filter(split(text, ' '), x -> x != '')"
    val counts = wp.groupBy("lang").agg(count(lit(1)), countDistinct("url"),
      countDistinct(expr("parse_url(url, 'HOST')")), sum(expr(s"size($tok)")),
      sum(expr(s"size(filter(split(text, ' '), x -> x = $headCase))"))).collect()
    val lens = wp.select(col("lang"), length(col("text")).cast("double")).collect()
      .groupBy(_.getString(0)).map { case (l, rs) => l -> rs.map(_.getDouble(1)).sorted }
    counts.map { r =>
      val l = r.getString(0)
      l -> Exact(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), lens(l))
    }.toMap
  }

  def checkPerLang(rows: Array[Row], ex: Map[String, Exact]): Seq[String] = {
    val p = Seq.newBuilder[String]
    if (rows.map(_.getString(0)).toSet != ex.keySet) p += s"langs ${rows.map(_.getString(0)).sorted.mkString(",")}"
    rows.filter(r => ex.contains(r.getString(0))).foreach { r =>
      val l = r.getString(0)
      val e = ex(l)
      if (r.getAs[Long]("n") != e.rows) p += s"$l: n ${r.getAs[Long]("n")} != ${e.rows}"
      val hll = r.getAs[Long]("hll_est")
      if (math.abs(hll - e.urls) > 3 * HllRse * e.urls + 3) p += s"$l: HLL $hll vs exact ${e.urls} beyond 3 sigma"
      Seq("k50" -> 0.5, "k90" -> 0.9, "k99" -> 0.99).foreach { case (c, q) =>
        p ++= rankProblem(s"$l KLL $c", e.lens, r.getAs[Double](c), q, KllRankEps)
      }
      Seq("t50" -> 0.5, "t99" -> 0.99).foreach { case (c, q) =>
        p ++= rankProblem(s"$l t-digest $c", e.lens, r.getAs[Double](c), q, TdRankEps)
      }
      if (r.getAs[Long]("ebf_n") != e.rows) p += s"$l: EBF n ${r.getAs[Long]("ebf_n")} != ${e.rows}"
      if (r.getAs[Long]("cms_total") != e.tokens) p += s"$l: CMS total ${r.getAs[Long]("cms_total")} != ${e.tokens}"
      val head = r.getAs[Long]("cms_head")
      val slack = math.ceil(math.E / graft.core.Cms.DefaultWidth * e.tokens).toLong
      if (head < e.head || head > e.head + slack) p += s"$l: CMS head $head outside [${e.head}, ${e.head + slack}]"
    }
    p.result()
  }

  def checkHostMerge(rows: Array[Row], ex: Map[String, Exact], perLangHll: Map[String, Long]): Seq[String] = {
    val p = Seq.newBuilder[String]
    if (rows.map(_.getString(0)).toSet != ex.keySet) p += "langs differ"
    rows.filter(r => ex.contains(r.getString(0))).foreach { r =>
      val l = r.getString(0)
      val e = ex(l)
      if (r.getAs[Long]("groups") != e.hosts) p += s"$l: ${r.getAs[Long]("groups")} host groups != ${e.hosts}"
      if (!perLangHll.get(l).contains(r.getAs[Long]("hll_est")))
        p += s"$l: merged HLL ${r.getAs[Long]("hll_est")} != direct ${perLangHll.get(l)}"
      if (r.getAs[Long]("ebf_n") != e.rows) p += s"$l: merged EBF n ${r.getAs[Long]("ebf_n")} != ${e.rows}"
      p ++= rankProblem(s"$l merged KLL p50", e.lens, r.getAs[Double]("k50"), 0.5, KllRankEps)
      p ++= rankProblem(s"$l merged t-digest p50", e.lens, r.getAs[Double]("t50"), 0.5, TdRankEps)
    }
    p.result()
  }

  /** Runs the probes over the table at `path`; sets the `functions.*`
    * and `plans.*` layer metrics. */
  def run(ctx: Ctx, path: String): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    val wp = spark.read.parquet(path)
    wp.createOrReplaceTempView("wp")
    val ex = ctx.tracer.span("functions.exact")(exact(wp))._1
    var directHll = Map.empty[String, Long]

    def perLang(): Array[Row] = spark.sql(PerLang).collect()
    def hostMerge(): Array[Row] = spark.sql(HostMerge).collect()
    def pair(what: String, listener: Option[StageListener]): Unit = rep.op(what) {
      def q(name: String)(f: => Array[Row]): Array[Row] = {
        listener.foreach(_.reset())
        val (r, s) = ctx.tracer.span(s"functions.$name")(f)
        listener.foreach { l =>
          rep.setAll(Counters.of(l.read()._2).metrics(s"functions.$name", ctx.cores, s.seconds))
        }
        r
      }
      (q("per_lang")(perLang()), q("host_merge")(hostMerge()))
    } { case (a, b) =>
      val pa = checkPerLang(a, ex)
      if (pa.isEmpty && directHll.isEmpty) directHll = a.map(r => r.getString(0) -> r.getAs[Long]("hll_est")).toMap
      pa ++ checkHostMerge(b, ex, directHll)
    }
    ctx.tracer.span("functions.warm_pair")(pair("warm SQL pair", None))
    val listener = new StageListener(spark.sparkContext)
    val (_, timed) = try ctx.tracer.span("functions.pair")(pair("SQL pair", Some(listener)))
      finally listener.detach()
    rep.line("agg_rows_per_s", ex.values.map(_.rows).sum / timed.seconds, "rows/s")

    def solo(name: String)(f: => Unit): Unit =
      rep.set(name, ctx.tracer.span(name)(f)._2.seconds)
    val args = Map("hll_agg" -> "url", "kll_agg" -> "text_len", "tdigest_agg" -> "text_len",
      "ebf_agg" -> "url", "cms_tokens_agg" -> "text")
    Metrics.SoloAggs.foreach { a =>
      solo(s"functions.${a}_s")(spark.sql(
        s"SELECT lang, length($a(${args(a)})) FROM ($withLen) GROUP BY lang").collect())
    }
    val perHost = spark.sql(PerHost).cache()
    perHost.count()
    perHost.createOrReplaceTempView("per_host")
    solo("functions.merge_s")(spark.sql(mergeSql("per_host")).collect())
    perHost.unpersist(blocking = true)

    // the same sharded EBF build through the native aggregate (warm: it is
    // the flagship's phase 3) and through the udaf(Aggregator) path, timed
    // after one untimed run
    def shardBuild(native: Boolean): Double =
      ctx.tracer.span(if (native) "plans.ebf_native" else "functions.ebf_udaf") {
        ShardedProbe.buildShardTable(wp, col("url"), 256, clusterFirst = true, nativeAgg = native)
          .agg(count(lit(1)), sum(length(col("sk")))).head()
      }._2.seconds
    val native = shardBuild(native = true)
    shardBuild(native = false)
    val udaf = shardBuild(native = false)
    rep.set("plans.ebf_native_s", native)
    rep.set("functions.ebf_udaf_s", udaf)
    rep.set("functions.udaf_over_native", udaf / native)
  }
}
