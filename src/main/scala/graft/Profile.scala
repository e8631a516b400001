package graft
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import scala.util.control.NonFatal

/** Dev tool (optimization rounds): per-stage wall/shuffle breakdown for
  * named queries. Each query runs once UNTIMED (codegen/JIT warmup), then
  * once instrumented; stages of the instrumented run print sorted by
  * duration with task counts and shuffle/input bytes, so the expensive
  * stage of a multi-job query is visible without the Spark UI.
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.Profile <sfDir> <query>... */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Nil
    val spark = GraftExtensions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class St(id: Int, name: String, ms: Long, tasks: Int,
      inputMB: Double, shReadMB: Double, shWriteMB: Double)
    val stages = mutable.ArrayBuffer[St]()
    // set on the main thread, read on the listener-bus thread
    val collecting = new AtomicBoolean(false)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting.get) {
          val si = e.stageInfo
          val tm = si.taskMetrics
          val ms = (for { s <- si.submissionTime; c <- si.completionTime }
            yield c - s).getOrElse(-1L)
          stages.synchronized {
            stages += St(si.stageId, si.name.takeWhile(_ != '\n'), ms,
              si.numTasks,
              tm.inputMetrics.bytesRead / 1e6,
              tm.shuffleReadMetrics.totalBytesRead / 1e6,
              tm.shuffleWriteMetrics.bytesWritten / 1e6)
          }
        }
    })

    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // warmup (untimed)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[profile] $n warmup failed: ${e.getMessage}") }
      stages.synchronized(stages.clear())
      collecting.set(true)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[profile] $n failed: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // let straggler stage-completed events drain before snapshotting
      Thread.sleep(200)
      collecting.set(false)
      val snap = stages.synchronized(stages.toVector)
      println(f"===== $n%s wall=$wall%.3f s, ${snap.size}%d stages, " +
        f"sum-stage=${snap.map(_.ms).sum / 1e3}%.3f s =====")
      snap.sortBy(-_.ms).take(25).foreach { s =>
        println(f"  ${s.ms}%6d ms  ${s.tasks}%4d tasks  " +
          f"in=${s.inputMB}%8.2f MB  shR=${s.shReadMB}%8.2f " +
          f"shW=${s.shWriteMB}%8.2f  [${s.id}%d] ${s.name}%s")
      }
    }
    spark.stop()
  }
}
