package perfbench

import graft.data.SeededWebPages
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

/** The build input: a webpages table generated through the public
  * `WebPagesGen.rowFor`, whose row-id range is chosen by the seed. The
  * program under test only ever sees the generated parquet. */
object Webpages {
  val NumHosts = 10000
  /** Member ids stay far below the generator's non-member probe range
    * (ids from 10^12 up). */
  private val SeedSlots = 1000000L

  def rows(tiny: Boolean): Long = if (tiny) 20000L else 100000L

  /** Writes the seed's table to `workDir/webpages`, over whatever an
    * earlier run left there: every run generates its input with the code
    * it benchmarks. Returns (path, size in MB). */
  def generate(spark: SparkSession, workDir: Path, seed: Long, n: Long): (String, Double) = {
    val dir = workDir.resolve("webpages")
    SeededWebPages.write(spark, dir.toString, java.lang.Math.floorMod(seed, SeedSlots) * n, n,
      NumHosts, Main.Cores * 2)
    (dir.toString, treeBytes(dir) / 1e6)
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }
}
