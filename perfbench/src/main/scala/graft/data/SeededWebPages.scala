package graft.data

import org.apache.spark.sql.{SaveMode, SparkSession}

/** The benchmark's webpages table: `WebPagesGen`'s own rows, Zipf
  * distributions and parquet layout, over the row-id range
  * `[firstId, firstId + n)` instead of `[0, n)`. It sits in package
  * `graft.data` only to reach the generator's `zipfCdf`. */
object SeededWebPages {
  def write(spark: SparkSession, path: String, firstId: Long, n: Long,
            numHosts: Int, numPartitions: Int): Unit = {
    import spark.implicits._
    val hostCdf = WebPagesGen.zipfCdf(numHosts, 1.1)
    val tokenCdf = WebPagesGen.zipfCdf(500, 1.05)
    spark.range(firstId, firstId + n, 1L, numPartitions)
      .mapPartitions(_.map(id => WebPagesGen.rowFor(id, hostCdf, tokenCdf)))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("parquet.block.size", (32 * 1024 * 1024).toString)
      .partitionBy("lang")
      .parquet(path)
  }
}
