package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the bench timer counts exactly its rep's stages behind a slow listener") {
    val spark = Bench.session(Some(2))
    try {
      // shares the timer's bus queue and holds every stage event for
      // 300 ms, so stage events reach the timer's listener late
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Thread.sleep(300)
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(300)
      })
      def job = spark.range(0, 1000, 1, 4).repartition(3).count()
      // an untimed job first: its queued events must not count in the rep
      assert(job == 1000)
      val (d, rows) = Bench.timeRep(job)
      assert(rows == 1000)
      // the repartition's map stage, the count's partial-aggregate map
      // stage and its result stage
      assert(d.stages == 3)
    } finally spark.stop()
  }

  test("the bench session keeps a configured master") {
    sys.props("spark.master") = "local[1]"
    try {
      val spark = Bench.session(None)
      try assert(spark.sparkContext.master == "local[1]")
      finally spark.stop()
    } finally sys.props -= "spark.master"
  }
}
