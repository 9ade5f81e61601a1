package perfbench

import graft.SparkEntry
import graft.functions.Graft

import java.nio.file.{Files, Paths}

/** Banking tool behind `contract.tsv` (see bank_contract.py): runs every
  * contract query that can run inside the working directory on `sfDir`
  * three times (cold collect, parquet dump for the DuckDB compare, warm
  * collect) and writes `digests.tsv` (name, family, cold digest, warm
  * digest, warm seconds) and `oracle_sql.json` to `outDir`.
  *
  * usage: perfbench.BankContract <sfDir> <outDir> <workDir> */
object BankContract {
  def main(args: Array[String]): Unit = {
    val Array(sf, out, work) = args
    val spark = Main.session(Paths.get(work).toAbsolutePath, "bank", Main.Cores)
    Graft.ensure(spark)
    Files.createDirectories(Paths.get(out))
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val fam = ContractWorkload.familyOf(n)
      if (fam == "webpages") s"$n\t$fam\t-\t-\t0"
      else try {
        val fn = SparkEntry.queries(n)
        val cold = Digest.of(fn(spark, sf).collect())
        fn(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        val t0 = System.nanoTime()
        val warm = Digest.of(fn(spark, sf).collect())
        s"$n\t$fam\t$cold\t$warm\t${(System.nanoTime() - t0) / 1e9}"
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          System.err.println(s"[bank] $n failed: $e")
          s"$n\t$fam\tERROR\tERROR\t0"
      }
    }
    Files.writeString(Paths.get(out, "digests.tsv"), lines.mkString("", "\n", "\n"))
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${Json.esc(k)}": "${Json.esc(v)}"""" }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(out, "oracle_sql.json"), json)
    spark.stop()
  }
}
