package graft

import graft.core.ShardedEbf
import graft.data.WebPagesGen
import graft.functions.Graft
import graft.pipeline.ShardedProbe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shard count fixes the sharded EBF's layout; the session's shuffle
  * partition count only sets how many reduce tasks build it. The
  * clustered build must give the same wire bytes at every partition
  * count, equal to the unclustered build, while running
  * min(numShards, spark.sql.shuffle.partitions) tasks. */
class ShardTablePartitionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private lazy val wp = WebPagesGen.dataset(spark, 5000L, numHosts = 200).toDF().cache()

  private val numShards = 16

  /** Runs `f` with `spark.sql.shuffle.partitions` set to `parts`, then
    * restores the session's value (the session is shared across specs). */
  private def withShufflePartitions[T](parts: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, parts.toString)
    try f finally spark.conf.set(key, saved)
  }

  private def wire(table: DataFrame): Array[Byte] =
    ShardedEbf.fromShardBytes(
      table.collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toSeq,
      numShards).toWire

  test("clustered build: same wire bytes at 1, 4 and 64 shuffle partitions") {
    val unclustered = wire(ShardedProbe.buildShardTable(wp, col("url"), numShards, m0 = 256))
    Seq(1, 4, 64).foreach { parts =>
      withShufflePartitions(parts) {
        val table = ShardedProbe.buildShardTable(wp, col("url"), numShards, m0 = 256,
          clusterFirst = true)
        assert(table.rdd.getNumPartitions === math.min(numShards, parts),
          s"reduce partitions at spark.sql.shuffle.partitions=$parts")
        assert(java.util.Arrays.equals(wire(table), unclustered),
          s"wire bytes differ at spark.sql.shuffle.partitions=$parts")
      }
    }
  }
}
