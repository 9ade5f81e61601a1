package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class StageListenerSpec extends AnyFunSuite {

  test("a span's counters never include an earlier span's tasks") {
    val spark = SparkSession.builder().master("local[4]").appName("listener-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      // a slow listener ahead of ours on the same queue: task-end events
      // reach StageListener well after the job that produced them returned
      sc.addSparkListener(new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(2)
      })
      val l = new StageListener(sc)
      for (i <- 1 to 10) {
        sc.parallelize(1 to 4000, 200).map(_ * 2).count()
        l.reset()
        val parts = 1 + i % 7
        sc.parallelize(1 to 100, parts).count()
        val (jobs, stages) = l.read()
        assert(stages.map(_.tasks).sum == parts, s"round $i")
        assert(jobs.size == 1, s"round $i")
      }
      l.detach()
    } finally spark.stop()
  }
}
