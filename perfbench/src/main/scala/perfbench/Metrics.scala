package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** The metrics the benchmark reports: the names and units come from
  * BENCHMARK.json, which the build packages with the harness. */
object Metrics {

  /** (name, unit) of each metric BENCHMARK.json declares under `key`. */
  private def declared(key: String): Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/BENCHMARK.json")
    require(in != null, "BENCHMARK.json is not on the classpath")
    val json = try new ObjectMapper().readTree(in) finally in.close()
    json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  /** Untraced runs, every workload. What "one operation" and "work
    * unit" mean per workload is documented in perfbench/BENCHMARK.md. */
  lazy val EndToEnd: Seq[(String, String)] = declared("end_to_end")

  /** Traced runs. */
  lazy val PerLayer: Seq[(String, String)] = declared("per_layer")

  /** Stage-counter spans: the three flagship phases and the two SQL
    * queries. */
  val CounterSpans: Seq[String] = Seq("pipeline.phase12", "pipeline.phase3", "pipeline.probe",
    "functions.per_lang", "functions.host_merge")

  /** Aggregates the SQL probes time one at a time. */
  val SoloAggs: Seq[String] = Seq("hll_agg", "kll_agg", "tdigest_agg", "ebf_agg", "cms_tokens_agg")

  /** Query families of the contract workload (webpages queries write a
    * fixed table outside the checkout and are not run). */
  val Families: Seq[String] = Seq("entry", "sketch", "pipeline", "data_pipeline", "relational")
}
