package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** O11 — explicit salted two-stage sketch aggregation for host-skewed
  * shuffles (mandated verbatim by BASELINE.json:north_rule).
  *
  * Why: AQE splits skewed *join* partitions but NOT skewed aggregation
  * groups — a Zipf-heavy host key means one reducer receives the whole
  * head host. Because every sketch in this library is a commutative
  * monoid with an exact merge, aggregation can be split into
  *
  *   stage 1: groupBy(keys :+ salt)  — spreads the head group over
  *            `numSalts` reducers; partial (map-side) aggregation still
  *            applies within each salt;
  *   stage 2: groupBy(keys) over the per-salt sketches with the
  *            `*_merge_agg` aggregators — input is numSalts rows per
  *            group, so the second shuffle is tiny.
  *
  * The result is byte-identical to the unsalted aggregation (merge is
  * exact and order-free) — verified by the `salted_vs_plain_equivalence`
  * driver query and the pipeline test suite.
  */
object SaltedAgg {

  /** One aggregate column routed through the two stages.
    *
    * @param name         output column name
    * @param build        stage-1 aggregate over raw rows, e.g. `expr("ebf_agg(url)")`
    * @param mergeFn      SQL name of the stage-2 bytes-merge aggregator,
    *                     e.g. "ebf_merge_agg"
    * @param mergeBuilder optional stage-2 Column builder (receives the
    *                     stage-1 output column name) for aggregates whose
    *                     merge takes something other than one bytes
    *                     column — e.g. the fused per-host struct
    */
  final case class SketchSpec(name: String, build: Column, mergeFn: String,
                              mergeBuilder: Option[String => Column] = None)

  /** Two-stage skew-safe aggregation.
    *
    * @param df       input rows
    * @param keys     group-by key column names
    * @param saltOn   expression whose hash spreads the head groups
    *                 (typically a high-cardinality column like url)
    * @param numSalts salt fan-out (stage-1 reducers per group)
    */
  def sketchAgg(df: DataFrame, keys: Seq[String], saltOn: Column, numSalts: Int,
                specs: Seq[SketchSpec]): DataFrame = {
    require(specs.nonEmpty)
    val salted = df.withColumn("__salt", pmod(xxhash64(saltOn), lit(numSalts)))
    val s1Aggs = specs.map(sp => sp.build.as(sp.name))
    val stage1 = salted
      .repartition(clusterParts(df), (keys :+ "__salt").map(col): _*)
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(s1Aggs.head, s1Aggs.tail: _*)
    val s2Aggs = specs.map(sp => mergeCol(sp).as(sp.name))
    stage1
      .groupBy(keys.map(col): _*)
      .agg(s2Aggs.head, s2Aggs.tail: _*)
  }

  private def mergeCol(sp: SketchSpec): Column =
    sp.mergeBuilder.map(_(sp.name)).getOrElse(expr(s"${sp.mergeFn}(${sp.name})"))

  /** Explicit partition count for a clustering shuffle: the session's
    * `spark.sql.shuffle.partitions`. AQE would otherwise coalesce it
    * toward 64MB partitions, capping the aggregation stage (where all
    * sketch-insert work happens) at a handful of tasks regardless of
    * cores. Shared with [[ShardedProbe.buildShardTable]]. */
  private[pipeline] def clusterParts(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Unsalted single-stage counterpart (for equivalence checks / when
    * the group key is known to be well-distributed). */
  def plainAgg(df: DataFrame, keys: Seq[String], specs: Seq[SketchSpec]): DataFrame = {
    val aggs = specs.map(sp => sp.build.as(sp.name))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Adaptive salting: salt ONLY the hot groups.
    *
    * Uniform salting of a Zipf-skewed key is wrong at both ends: the
    * head group needs fan-out, but fanning out millions of small tail
    * groups multiplies the per-group fixed cost (sketch headers, merge
    * rows) by the salt count and makes the second stage as expensive as
    * the first. Here a cheap sampled pre-pass estimates per-group row
    * counts; only groups whose estimated rows exceed `hotRowThreshold`
    * get `numSalts`-way salting — tail groups keep salt 0 and their
    * stage-2 merge is a single-row pass-through.
    *
    * The hot set is broadcast (it is small by definition: a Zipf head).
    * Result is byte-identical to `plainAgg` regardless of which groups
    * were classified hot — salting only changes the merge tree, and
    * merge is exact.
    *
    * @param sampleFraction pre-pass sample rate (the 100 TB answer to
    *                       "don't scan twice"); estimated count =
    *                       sampled count / sampleFraction
    */
  /** @param sampleSource plan to run the hot-detection sample against
    *                      (defaults to `df`). Callers whose `df` carries
    *                      a side-channel observation (CollectMetrics)
    *                      MUST pass an unobserved equivalent here: the
    *                      sample's collect is an action, and it would
    *                      otherwise complete the observation with the
    *                      sample's partial row stream. */
  def adaptiveSketchAgg(df: DataFrame, keys: Seq[String], saltOn: Column, numSalts: Int,
                        specs: Seq[SketchSpec], hotRowThreshold: Long,
                        sampleFraction: Double = 0.01,
                        sampleSource: Option[DataFrame] = None): DataFrame = {
    require(specs.nonEmpty)
    val spark = df.sparkSession
    val sampleDf = sampleSource.getOrElse(df)
    // The hot set is MATERIALIZED once to the driver (it is the Zipf
    // head — small by definition) and re-enters the plan as a local
    // relation: the sampling job runs exactly once even though the hot
    // set is consulted three times below (salting join, stage-2 split),
    // and the coalesce collapses the sample's ~per-32MB-split task
    // count — 662 four-millisecond tasks measured as a stage whose
    // WALL TIME grew with core count on scheduling overhead alone
    // (PLAN13 phase-1 decomposition).
    val keyCols = keys.map(col)
    val hotRows = sampleDf.sample(withReplacement = false, sampleFraction, seed = 42L)
      .coalesce(math.max(2, spark.sparkContext.defaultParallelism))
      .groupBy(keyCols: _*).count()
      .filter(col("count") >= math.max(1.0, hotRowThreshold * sampleFraction))
      .select(keyCols: _*)
      .collect()
    val keySchema = org.apache.spark.sql.types.StructType(
      keys.map(k => df.schema(df.schema.fieldIndex(k))))
    import scala.jdk.CollectionConverters._
    val hot = spark.createDataFrame(hotRows.toSeq.asJava, keySchema)
      .withColumn("__hot", lit(true))
    val salted = df
      .join(broadcast(hot), keys, "left")
      .withColumn("__salt",
        when(col("__hot").isNotNull, pmod(xxhash64(saltOn), lit(numSalts)))
          .otherwise(lit(0)))
      .drop("__hot")
    val s1Aggs = specs.map(sp => sp.build.as(sp.name))
    // CLUSTER FIRST: with ~rows/task distinct groups per input split,
    // map-side partial aggregation achieves no reduction while holding
    // one object buffer per group per task (measured: memory scales
    // with parallelism and aggregation stops scaling). Repartitioning
    // by (keys, salt) satisfies the aggregate's required distribution,
    // so Catalyst plans the partial+final pair AFTER one narrow-row
    // shuffle — each task owns its groups outright.
    val stage1 = salted
      .repartition(clusterParts(df), (keys :+ "__salt").map(col): _*)
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(s1Aggs.head, s1Aggs.tail: _*)
    // Stage 2 merges ALL groups through one exchange of the stage-1
    // sketch rows. A hot/tail split (merge only the salted groups,
    // pass tail rows through) was A/B'd in round 4 and REGRESSED ~10%
    // at both parallelism levels: the two branches consume stage1
    // twice, and Spark's ReuseExchange dedupes only the exchange — the
    // stage-1 ObjectHashAggregate recomputes per branch, which costs
    // more than the ~96%-smaller stage-2 exchange saves (PLAN13).
    val s2Aggs = specs.map(sp => mergeCol(sp).as(sp.name))
    stage1
      .groupBy(keyCols: _*)
      .agg(s2Aggs.head, s2Aggs.tail: _*)
  }
}
