package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Streaming-maintainer micro-bench (round 16): the batch bench never
  * exercises the 22 streaming operators, so optimization rounds had no
  * baseline for them. This side harness times the seven
  * [[graft.streaming.Segments]]-backed maintainers end-to-end — bounded
  * file-trigger streams fed the SF corpus in [[Waves]] waves, each
  * starting from an empty carry — plus one source, and prints ONE JSON
  * line (same style as graft.Bench; written to the first arg or
  * stream_bench.json).
  *
  *  - ann_index_maintain, mutual_knn_maintain: q18's LSH index and the
  *    mutual-kNN graph carried across vector drops;
  *  - chunk_index_maintain, bm25_index_maintain, frame_index_maintain,
  *    manifest_maintain, clusters_maintain: q186's chunks, q118's BM25
  *    index, q226's frame hashes, the manifest fingerprints and q112's
  *    dedup clusters carried across document drops
  *    ([[graft.streaming.DocStreams]]'s maintainX);
  *  - graftsnap_bootstrap: catch-up of the `graftsnap` streaming source
  *    over a [[Waves]]-version SnapTable built from the same corpus —
  *    the replica-bootstrap path (version offsets, CDC-ordered rows).
  *
  * Methodology matches Bench where it applies: a maintainer's time
  * covers its full life (start → every wave written and processed →
  * stop), work is consumed with count()-free noop writes inside the
  * sink, and each bench runs in a fresh checkpoint/input dir. Each wave
  * lands as one parquet file moved into the stream's input directory;
  * `per_wave` gives each maintainer's seconds from that move to the end
  * of `processAllAvailable` (the wave's write excluded). It is a side
  * harness, outside the graft.Bench and graft.Verify contract, so that
  * streaming regressions are measurable round over round. */
object StreamBench {
  val Waves = 4

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = args.headOption.getOrElse("stream_bench.json")
    val spark = GraftExtensions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ext.{Dedup, Index, Layout, Multimodal, Similarity, Text}
    import graft.streaming.DocStreams
    import org.apache.spark.sql.streaming.StreamingQuery

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
    val perWave = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val sink = (served: DataFrame, _: Long) => noop(served)

    /** One maintainer's life over the waves of `src`, from an empty carry:
      * `start` gets the input stream and the checkpoint dir. */
    def maintain(name: String, src: DataFrame, key: String)(
        start: (DataFrame, String) => StreamingQuery): Unit = {
      val lat = Seq.newBuilder[Double]
      results(name) = timed {
        val in = tmp(s"${name}_in"); val ck = tmp(s"${name}_ck")
        spark.sparkContext.setJobDescription(s"stream-bench: $name")
        val stream =
          if (key == "vec_id") DocStreams.readVecStream(spark, in)
          else DocStreams.readDocStream(spark, in)
        val q = start(stream, ck)
        try waves(src, key).zipWithIndex.foreach { case (w, i) =>
          // the file source reads the files directly in `in`, not those
          // in subdirectories: land each wave as one file, atomically
          val stage = s"${tmp(s"${name}_stage")}/wave$i"
          w.coalesce(1).write.parquet(stage)
          val part = new java.io.File(stage).listFiles
            .filter(_.getName.endsWith(".parquet")).head
          lat += timed {
            Files.move(part.toPath, Paths.get(in, s"wave$i.parquet"),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      perWave(name) = lat.result()
    }
    val noDocs = docs.filter(lit(false))
    val noVecs = vecs.filter(lit(false))

    maintain("ann_index_maintain", vecs, "vec_id") { (s, ck) =>
      DocStreams.maintainAnnIndex(s, Similarity.lshIndexOf(noVecs), ck)(sink)
    }
    maintain("chunk_index_maintain", docs, "doc_id") { (s, ck) =>
      DocStreams.maintainChunkIndex(s, Text.chunkRelationOf(noDocs), ck)(sink)
    }
    maintain("bm25_index_maintain", docs, "doc_id") { (s, ck) =>
      val (tfc, lens) = Index.bm25IndexOf(noDocs)
      DocStreams.maintainBm25Index(s, tfc, lens, ck)(sink)
    }
    maintain("frame_index_maintain", docs, "doc_id") { (s, ck) =>
      DocStreams.maintainFrameIndex(s,
        Multimodal.videoFrameHashesOf(noDocs), ck)(sink)
    }
    maintain("manifest_maintain", docs, "doc_id") { (s, ck) =>
      DocStreams.maintainManifest(s, Layout.manifestFingerprints(noDocs),
        ck)(sink)
    }
    maintain("clusters_maintain", docs, "doc_id") { (s, ck) =>
      val sigs = Dedup.signatures(noDocs)
      DocStreams.maintainClusters(s, sigs, Dedup.connectedComponents(
        Dedup.minhashPairsFromSignatures(sigs, 0.5)), ck, 0.5)(sink)
    }
    maintain("mutual_knn_maintain", vecs, "vec_id") { (s, ck) =>
      DocStreams.maintainMutualKnn(s, noVecs, ck)(sink)
    }

    // 3. graftsnap source bootstrap over a Waves-version SnapTable
    //    (table built OUTSIDE the timed region — the bench measures the
    //    source's catch-up, not the table writes)
    val snapDir = tmp("snap_tbl")
    waves(docs, "doc_id")
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
    val pw = perWave.map { case (k, v) =>
        "\"" + k + "\":" + v.map(r3).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"stream_total","value":${r3(results.values.sum)},""" +
      s""""unit":"sec","queries":$qs,"per_wave":$pw,"waves":$Waves,""" +
      s""""sf":"$sfDir"}"""
    println(line)
    try Files.writeString(Paths.get(outFile), line + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[stream-bench] $outFile not written: ${e.getMessage}") }
    spark.stop()
  }
}
