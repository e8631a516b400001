package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftExtensions

/** One benchmark run of one workload, closed loop: one set-up from process
  * launch to a ready session, a cold pass in that fresh session (JIT,
  * SessionMemo memos and footer reads all cold), then warm passes. Each op
  * is timed alone, in wall seconds and in CPU seconds of the whole process;
  * its output check runs after it, outside the timed region. The raw record
  * (set-up, passes with their layer totals when traced, ops, heap, workload
  * extras) is written as JSON for `perfbench/run.py`, which checks answers
  * and derives the metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *   <dataDir> <inputsDir> <launchEpochMs> <cores> <record.json>
  */
object Main {
  final case class Cfg(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, inputs: String,
      launchMs: Double, cores: Int, record: String)

  final case class OpResult(pass: Int, index: Int, name: String,
      seconds: Double, cpuSeconds: Double, ok: Boolean, error: String,
      check: String)

  final case class PassRecord(pass: Int, kind: String, traced: Boolean,
      seconds: Double, cpuSeconds: Double, ops: Int,
      layers: Map[String, Double])

  /** Warm passes a run makes at least, whatever `seconds` says. */
  val MinWarm = 2

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds of the whole process: every thread, the JVM's compiler
    * and collector threads included. */
  def processCpu(): Double = os.getProcessCpuTime / 1e9

  def session(cfg: Cfg, hive: Boolean, rep: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse$rep")
      .withExtensions(new GraftExtensions)
    val withHive =
      if (!hive) b
      else b.enableHiveSupport().config(
        "spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${cfg.work}/metastore$rep;create=true")
    val s = withHive.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val cfg = Cfg(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4), args(5), args(6), args(7).toDouble, args(8).toInt, args(9))
    val wl = Workloads(cfg)
    def nowMs = System.currentTimeMillis().toDouble
    // progress in the JVM log, which run.py shows when a run fails
    def log(what: String): Unit =
      System.err.println(f"[perfbench] ${(nowMs - cfg.launchMs) / 1e3}%.1f s: $what%s")

    val tr = new Tracer()
    val ops = ArrayBuffer.empty[OpResult]
    val passes = ArrayBuffer.empty[PassRecord]
    def runPass(ctx: Ctx, p: Int, kind: String, traced: Boolean): Unit = {
      if (traced) tr.attach(ctx.spark)
      val planned = wl.pass(ctx, p, new Random(cfg.seed * 7919L + p))
      val iv = ArrayBuffer.empty[(Double, Double)]
      var cpu = 0.0
      tr.span(s"pass $p $kind", "bench") {
        planned.zipWithIndex.foreach { case (op, i) =>
          val id = s"p$p.$i.${op.name}"
          tr.currentOp = id
          val err0 =
            try { op.prepare(); "" }
            catch { case NonFatal(e) =>
              s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
          val c0 = processCpu()
          val a = tr.nowMs
          val err =
            if (err0.nonEmpty) err0
            else try { tr.span(op.name, "bench")(op.run()); "" }
            catch { case NonFatal(e) =>
              s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
          val b = tr.nowMs
          val opCpu = processCpu() - c0
          cpu += opCpu
          iv += (a -> b)
          val check =
            if (err.nonEmpty) ""
            else try op.check(s"${cfg.work}/check/$id")
            catch { case NonFatal(e) =>
              "CHECK-FAILED " + s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
          ops += OpResult(p, i, op.name, (b - a) / 1e3, opCpu,
            err.isEmpty, err, check)
          log(f"$id%s took ${(b - a) / 1e3}%.3f s $err%s")
        }
      }
      tr.currentOp = ""
      val layers =
        if (!traced) Map.empty[String, Double]
        else { tr.drain(); tr.passStats(iv.toSeq, cfg.cores) ++
          Map("storage.rdd_mb_held" -> tr.heldMb) }
      if (traced) tr.detach()
      passes += PassRecord(p, kind, traced, iv.map(x => x._2 - x._1).sum / 1e3,
        cpu, planned.size, layers)
    }

    // set-up: process launch to a ready session, with the workload's
    // one-time registration (the Hive metastore, for scorecard_etl)
    log("main")
    var spark = session(cfg, wl.hive, 1)
    log("session")
    wl.setup(spark)
    val setupS = (nowMs - cfg.launchMs) / 1e3
    val ctx = new Ctx(spark, tr)
    log("set up")
    runPass(ctx, 0, "cold", cfg.trace)
    // warm passes in the same session: at least MinWarm, then until
    // `seconds` have passed since the first of them began. Traced runs
    // trace warm passes in the order untraced, traced, traced, untraced
    // (and so on), so the tracing overhead is measured on the same warm
    // state and a steady drift cancels out.
    val warmStart = nowMs
    var w = 1
    while (w < wl.maxPasses && (w <= MinWarm || (cfg.trace && w % 4 != 1) ||
        (nowMs - warmStart) / 1e3 < cfg.seconds)) {
      runPass(ctx, w, "warm", cfg.trace && w % 4 >= 2)
      w += 1
    }
    // heap still in use after a forced collection, the least of three,
    // once Spark's own listeners have caught up
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
    val extras = wl.finish(ctx, ops.toSeq)
    log("finished")

    // traced runs then probe Tables.load on every corpus table, once, in a
    // fresh session
    val tablesProbe: Map[String, Double] =
      if (!cfg.trace) Map.empty
      else {
        spark.stop()
        spark = session(cfg, hive = false, 2)
        tr.attach(spark)
        val a = tr.nowMs
        graft.tables.Tables.all.foreach(n =>
          tr.span(s"Tables.load $n", "tables")(
            graft.tables.Tables.load(spark, cfg.data, n)))
        val b = tr.nowMs
        tr.detach()
        Map("tables.load_ms" -> (b - a), "tables.load_jobs" ->
          tr.passStats(Seq(a -> b), cfg.cores)("scheduler.jobs"))
      }

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val record = Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "cores" -> cfg.cores, "setup_s" -> setupS,
      "passes" -> passes.toSeq, "ops" -> ops.toSeq,
      "retained_heap_mb" -> heapMb, "tables_probe" -> tablesProbe,
      "extras" -> extras)
    Files.writeString(Paths.get(cfg.record), mapper.writeValueAsString(record))
    log("record written")
    if (cfg.trace) {
      val lines = tr.allSpans().map(s => mapper.writeValueAsString(Map(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent,
        "op" -> s.op)))
      Files.writeString(Paths.get(cfg.record.stripSuffix(".json") + ".spans.jsonl"),
        lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}

/** What an op's closures see. */
final class Ctx(val spark: SparkSession, val tracer: Tracer)

/** One client operation. `prepare` runs untimed before it, `run` is
  * timed, and `check(dir)` runs untimed after it: it writes the op's answer
  * under `dir` for `run.py` to verify and returns that directory, or
  * returns its own verdict ("OK" or "MISMATCH ..."). */
final case class Op(name: String, run: () => Unit, check: String => String,
    prepare: () => Unit = () => ())

trait Workload {
  def hive: Boolean = false
  /** Passes the workload's inputs allow, the cold one included. */
  def maxPasses: Int = Int.MaxValue
  /** One-time registration in a fresh session; part of set-up time. */
  def setup(spark: SparkSession): Unit = ()
  /** The ops of pass `p`, in run order, drawn with `rng`. */
  def pass(ctx: Ctx, p: Int, rng: Random): Seq[Op]
  /** Untimed measurements after the last pass, for the record. */
  def finish(ctx: Ctx, ops: Seq[Main.OpResult]): Map[String, Any] = Map.empty
}
