package graft

import java.io.{File, PrintWriter}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-Spark-stage shuffle profiler for a single gate (dev tool, not part
  * of the driver contract): runs the named gate `passes` times in one JVM,
  * recording every completed stage's shuffle read/write bytes and records
  * + task count + callsite, one file per pass under /tmp. Diffing pass files identifies
  * WHICH physical stage's volume moved when a gate's total shuffle bytes
  * are nondeterministic — this is the instrument that diagnosed the
  * round-14 `x_corpus_pipeline` flip to AQE exchange-reuse races (see
  * BASELINE.md), where executed-plan dumps could not (localCheckpoint
  * materializations are RDD jobs invisible to QueryExecutionListener).
  *
  * `runMain graft.StageDump <gate> [passes=4]`
  */
object StageDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageDump <gate> [passes]")
    val gate = args(0)
    val passes = if (args.length > 1) args(1).toInt else 4
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.configure(spark)
    require(SparkEntry.queries.contains(gate), s"unknown gate: $gate")
    val snap = TaskMetricsCollector.install(spark.sparkContext)

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        val r = m.shuffleReadMetrics.totalBytesRead
        val w = m.shuffleWriteMetrics.bytesWritten
        val rr = m.shuffleReadMetrics.recordsRead
        val wr = m.shuffleWriteMetrics.recordsWritten
        if (r > 0 || w > 0)
          stages.add(f"shufR $r%10d B $rr%8d rec  shufW $w%10d B $wr%8d rec  tasks ${si.numTasks}%4d  ${si.name}")
      }
    })

    for (pass <- 1 to passes) {
      stages.clear()
      val m0 = snap()
      val t0 = System.nanoTime()
      SparkEntry.queries(gate)(spark, sfDir).count()
      val m = snap() - m0
      Thread.sleep(1500) // listener bus drains asynchronously
      println(f"[stagedump] pass $pass  ${(System.nanoTime() - t0) / 1e9}%6.2f s  shufR ${m.shufReadB}%10d B  shufW ${m.shufWriteB}%10d B")
      val pw = new PrintWriter(new File(s"/tmp/stagedump_${gate}_pass$pass.txt"))
      try {
        val it = stages.iterator()
        while (it.hasNext) pw.println(it.next())
      } finally pw.close()
    }
    spark.stop()
  }
}
