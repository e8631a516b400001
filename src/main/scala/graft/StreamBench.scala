package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Streaming-maintainer micro-bench (round 16): the batch bench never
  * exercises the 22 streaming operators, so optimization rounds had no
  * baseline for them. This side harness times three representative
  * maintainers end-to-end — bounded file-trigger streams fed the SF
  * corpus in [[Waves]] waves — and prints ONE JSON line (same style as
  * graft.Bench; written to the first arg or stream_bench.json).
  *
  *  - ann_index_maintain:   q18's LSH index carried across vector drops
  *    ([[graft.streaming.DocStreams.maintainAnnIndex]]), per-wave serve.
  *  - chunk_index_maintain: q186's CDC chunk relation carried across
  *    document drops ([[graft.streaming.DocStreams.maintainChunkIndex]]).
  *  - graftsnap_bootstrap:  catch-up of the `graftsnap` streaming source
  *    over a [[Waves]]-version SnapTable built from the same corpus —
  *    the replica-bootstrap path (version offsets, CDC-ordered rows).
  *
  * Methodology matches Bench where it applies: wall time covers the
  * maintainer's full life (start → every wave processed → stop), work
  * is consumed with count()-free noop writes inside the sink, and each
  * bench runs in a fresh checkpoint/input dir. Not part of the driver
  * contract — the driver runs graft.Bench; this harness exists so
  * streaming regressions are measurable round over round. */
object StreamBench {
  val Waves = 4

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = args.headOption.getOrElse("stream_bench.json")
    val spark = GraftExtensions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.streaming.DocStreams

    def tmp(name: String): String =
      Files.createTempDirectory(s"sb_$name").toString
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // deterministic wave split (vec_id / doc_id mod Waves)
    def waves(src: DataFrame, key: String): Seq[DataFrame] =
      (0 until Waves).map(i => src.filter(pmod(col(key), lit(Waves)) === i))

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()

    // 1. ANN index maintenance over vector drops
    results("ann_index_maintain") = timed {
      val in = tmp("ann_in"); val ck = tmp("ann_ck")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val empty = graft.ext.Similarity.lshIndexOf(emb.filter(lit(false)))
      val ws = waves(emb, "vec_id")
      spark.sparkContext.setJobDescription("stream-bench: ann maintain")
      val q = DocStreams.maintainAnnIndex(
        DocStreams.readVecStream(spark, in), empty, ck)(
        (served, _) => noop(served))
      try ws.zipWithIndex.foreach { case (w, i) =>
        w.write.parquet(s"$in/wave$i"); q.processAllAvailable()
      } finally q.stop()
    }

    // 2. CDC chunk-index maintenance over document drops
    results("chunk_index_maintain") = timed {
      val in = tmp("chunk_in"); val ck = tmp("chunk_ck")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val empty = graft.ext.Text.chunkRelationOf(docs.filter(lit(false)))
      val ws = waves(docs, "doc_id")
      spark.sparkContext.setJobDescription("stream-bench: chunk maintain")
      val q = DocStreams.maintainChunkIndex(
        DocStreams.readDocStream(spark, in), empty, ck)(
        (report, _) => noop(report))
      try ws.zipWithIndex.foreach { case (w, i) =>
        w.write.parquet(s"$in/wave$i"); q.processAllAvailable()
      } finally q.stop()
    }

    // 3. graftsnap source bootstrap over a Waves-version SnapTable
    //    (table built OUTSIDE the timed region — the bench measures the
    //    source's catch-up, not the table writes)
    val snapDir = tmp("snap_tbl")
    waves(spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id")
      .zipWithIndex.foreach { case (w, i) =>
        if (i == 0) graft.io.SnapTable.create(w, snapDir)
        else graft.io.SnapTable.append(w, snapDir)
      }
    results("graftsnap_bootstrap") = timed {
      val ck = tmp("snap_ck")
      spark.sparkContext.setJobDescription("stream-bench: graftsnap bootstrap")
      val q = spark.readStream.format("graftsnap").load(snapDir)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch((b: DataFrame, _: Long) => noop(b))
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    def r3(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"stream_total","value":${r3(results.values.sum)},""" +
      s""""unit":"sec","queries":$qs,"waves":$Waves,"sf":"$sfDir"}"""
    println(line)
    try Files.writeString(Paths.get(outFile), line + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[stream-bench] $outFile not written: ${e.getMessage}") }
    spark.stop()
  }
}
