package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ext.{Dedup, Index, Layout, Multimodal, Similarity, Text}
import graft.io.SnapTable
import graft.streaming.DocStreams
import perfbench.{Ctx, Main, Op, Workload, Workloads}

/** `doc_stream`: seed-split drops of the corpus documents and embeddings
  * land one at a time in front of DocStreams consumers (`carries.txt`:
  * Segments-backed carries and the SnapTable ingest). Each consumer is one
  * streaming query over its own input directory, seeded from the initial
  * slice and started, untimed, before its first drop; it then runs for the
  * whole run. Only one consumer works at a time: an op lands one drop for
  * one consumer and waits for `processAllAvailable`. Pass `p` lands the
  * next `perPass` drops to every consumer, consumers in a seed-drawn order.
  * After the last pass, untimed, each consumer's last served answer (for
  * the ingest: the table) is compared with the batch rebuild over the
  * initial slice and every drop it was given. Lives in package `graft` for
  * the carries' batch twins.
  */
final class DocStream(cfg: Main.Cfg) extends Workload {
  import DocStream._
  private val docDir = s"${cfg.inputs}/documents"
  private val vecDir = s"${cfg.inputs}/embeddings"
  private val drops = Option(new File(docDir).listFiles).toSeq.flatten
    .map(_.getName.stripSuffix(".parquet")).filter(_.startsWith("drop")).sorted
  private val perPass = Workloads.lines(s"${cfg.inputs}/per_pass.txt").head.toInt
  require(drops.size >= perPass, "no stream drops")
  override def maxPasses: Int = drops.size / perPass

  private final class Consumer(val name: String) {
    val vectors: Boolean = name == "ann" || name == "mutual_knn"
    val root = s"${cfg.work}/stream/$name"
    val in = s"$root/in"
    val ckpt = s"$root/ckpt"
    val table = s"$root/table"
    var query: StreamingQuery = null
    @volatile var latest: DataFrame = null
    var landed = 0
  }
  private val consumers = Workloads.lines(s"${cfg.inputs}/carries.txt").map { c =>
    require(Carries.contains(c), s"unknown carry $c")
    new Consumer(c)
  }

  private def start(spark: SparkSession, c: Consumer): StreamingQuery = {
    Files.createDirectories(Paths.get(c.in))
    val docs = DocStreams.readDocStream(spark, c.in)
    lazy val vecs = DocStreams.readVecStream(spark, c.in)
    val initDocs = spark.read.parquet(s"$docDir/initial.parquet")
    val initVecs = spark.read.parquet(s"$vecDir/initial.parquet")
    // the op's answer: the served relation, computed in full
    val sink = (df: DataFrame, _: Long) => {
      df.write.format("noop").mode("overwrite").save()
      c.latest = df
    }
    c.name match {
      case "ann" => DocStreams.maintainAnnIndex(vecs,
        Similarity.lshIndexOf(initVecs), c.ckpt, K)(sink)
      case "bm25" =>
        val (tfc, lens) = Index.bm25IndexOf(initDocs)
        DocStreams.maintainBm25Index(docs, tfc, lens, c.ckpt)(sink)
      case "chunk" => DocStreams.maintainChunkIndex(docs,
        Text.chunkRelationOf(initDocs), c.ckpt)(sink)
      case "frame" => DocStreams.maintainFrameIndex(docs,
        Multimodal.videoFrameHashesOf(initDocs), c.ckpt)(sink)
      case "manifest" => DocStreams.maintainManifest(docs,
        Layout.manifestFingerprints(initDocs), c.ckpt)(sink)
      case "clusters" =>
        val sigs = Dedup.signatures(initDocs)
        DocStreams.maintainClusters(docs, sigs, Dedup.connectedComponents(
          Dedup.minhashPairsFromSignatures(sigs, MinEst)), c.ckpt, MinEst)(sink)
      case "mutual_knn" => DocStreams.maintainMutualKnn(vecs, initVecs,
        c.ckpt)(sink)
      case "snapshot" => DocStreams.maintainSnapshotIngest(docs, c.table,
        c.ckpt)((_, _) => ())
    }
  }

  def pass(ctx: Ctx, p: Int, rng: Random): Seq[Op] =
    drops.slice(p * perPass, (p + 1) * perPass).flatMap { drop =>
      rng.shuffle(consumers).map { c =>
        val tmp = Paths.get(c.in, s"_$drop.parquet")
        Op(s"${c.name}:$drop",
          prepare = () => {
            if (c.query == null) c.query = ctx.tracer.span(
              s"start ${c.name}", "streaming.start")(start(ctx.spark, c))
            Files.copy(Paths.get(
              s"${if (c.vectors) vecDir else docDir}/$drop.parquet"), tmp)
          },
          run = () => ctx.tracer.span(s"drop ${c.name}", "streaming") {
            Files.move(tmp, Paths.get(c.in, s"$drop.parquet"),
              StandardCopyOption.ATOMIC_MOVE)
            c.query.processAllAvailable()
            c.landed += 1
          },
          check = _ => "")
      }
    }

  override def finish(ctx: Ctx, ops: Seq[Main.OpResult]): Map[String, Any] = {
    consumers.foreach(c => if (c.query != null) c.query.stop())
    val verdicts = consumers.filter(_.landed > 0).map { c =>
      c.name -> (try {
        if (matches(ctx.spark, c)) "OK"
        else "MISMATCH: the final state differs from the batch rebuild"
      } catch { case NonFatal(e) =>
        s"CHECK-FAILED ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      })
    }.toMap
    // each consumer read the initial slice and every drop it was given
    val inputBytes = consumers.map { c =>
      val dir = if (c.vectors) vecDir else docDir
      ("initial" +: drops.take(c.landed))
        .map(d => new File(s"$dir/$d.parquet").length).sum
    }.sum.toDouble
    Map("stream_checks" -> verdicts,
      "ckpt_bytes" -> consumers.map(c =>
        Workloads.dirBytes(new File(c.ckpt))).sum.toDouble,
      "disk_bytes" -> consumers.map(c => Workloads.dirBytes(new File(c.ckpt)) +
        Workloads.dirBytes(new File(c.table))).sum.toDouble,
      "input_bytes" -> inputBytes)
  }

  /** The consumer's last served answer (for the SnapTable ingest, the
    * table) equals the batch rebuild over the initial slice and every
    * drop. */
  private def matches(spark: SparkSession, c: Consumer): Boolean = {
    val given = "initial" +: drops.take(c.landed)
    def all(dir: String) = spark.read.parquet(given.map(d => s"$dir/$d.parquet"): _*)
    val docs = all(docDir)
    val vecs = all(vecDir)
    val expected = c.name match {
      case "ann" => Similarity.knnLshServe(Similarity.lshIndexOf(vecs), K)
      case "bm25" =>
        val (tfc, lens) = Index.bm25IndexOf(docs)
        Index.bm25ServeFrom(spark, tfc, lens)
      case "chunk" => Text.cdcReportOf(Text.chunkRelationOf(docs))
      case "frame" =>
        Multimodal.frameNearDupFrom(Multimodal.videoFrameHashesOf(docs))
      case "manifest" => Layout.manifestAssemble(Layout.manifestShardsOf(
        Layout.manifestFingerprints(docs)))
      case "clusters" =>
        Dedup.connectedComponents(Dedup.minhashPairsOf(docs, MinEst))
      case "mutual_knn" => Similarity.mutualPairsOfVecs(vecs)
      case "snapshot" =>
        spark.read.parquet(drops.take(c.landed).map(d => s"$docDir/$d.parquet"): _*)
    }
    val got =
      if (c.name == "snapshot") SnapTable.read(spark, c.table) else c.latest
    got != null && rows(got.select(expected.columns.map(col): _*)) == rows(expected)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted
}

object DocStream {
  val Carries: Seq[String] = Seq("ann", "bm25", "chunk", "frame", "manifest",
    "clusters", "mutual_knn", "snapshot")
  val K = 3
  val MinEst = 0.5
}
