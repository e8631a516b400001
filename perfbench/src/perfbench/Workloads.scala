package perfbench

import java.io.File
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.catalog.{Catalog, Configuration}
import graft.parity.Scorecard

object Workloads {
  def apply(cfg: Main.Cfg): Workload = cfg.workload match {
    case "star_sql" => new QueryMix(StarRegistry(), "queries", cfg)
    case "corpus_kernels" => new QueryMix(ExtRegistry(), "ext", cfg)
    case "scorecard_etl" => new ScorecardEtl(cfg)
    case "doc_stream" => new graft.perfbench.DocStream(cfg)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  type Registry = Map[String, (SparkSession, String) => DataFrame]

  def StarRegistry(): Registry = {
    import graft.queries._
    Core.queries ++ Advanced.queries ++ Olap.queries ++ Sketches.queries ++
      Subqueries.queries ++ TpchCanon.queries
  }

  def ExtRegistry(): Registry = {
    import graft.ext._
    Similarity.queries ++ Text.queries ++ Dedup.queries ++ Corpus.queries ++
      Model.queries ++ Retrieval.queries ++ Index.queries ++ Report.queries ++
      Multimodal.queries ++ Layout.queries ++ Graph.queries ++ Linkage.queries
  }

  def lines(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty)
      .toSeq

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
}

/** `star_sql` and `corpus_kernels`: an op is one registry query, built by
  * its registry function (`<layer>.build` span) and collected: the client
  * receives the answer. Every pass runs the whole mix (`mix.txt`, fixed,
  * so passes of any seed are comparable) in an order the seed draws. The
  * check writes that same answer, in row order, as one parquet file for
  * the golden-hash compare, without running the query again; an answer
  * equal, row for row, to the query's first one points to that file. */
final class QueryMix(registry: Workloads.Registry, layer: String,
    cfg: Main.Cfg) extends Workload {
  private val mix = Workloads.lines(s"${cfg.inputs}/mix.txt")
  mix.foreach(n => require(registry.contains(n), s"$n is not in the registry"))
  private val first = scala.collection.mutable.Map.empty[String, (String, Seq[Row])]

  def pass(ctx: Ctx, p: Int, rng: Random): Seq[Op] =
    rng.shuffle(mix).map { name =>
      var df: DataFrame = null
      var rows: Array[Row] = null
      Op(name,
        run = () => {
          df = ctx.tracer.span(s"$layer.build $name", layer)(
            registry(name)(ctx.spark, cfg.data))
          rows = ctx.tracer.span("action", "action")(df.collect())
        },
        check = dir => first.get(name) match {
          case Some((d, seen)) if seen == rows.toSeq => d
          case _ =>
            ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.parquet(dir)
            first.getOrElseUpdate(name, (dir, rows.toSeq))
            dir
        })
    }
}

/** `scorecard_etl`: the reference pipeline per seed-generated CSV drop.
  * Per drop, in order: ingest (CsvLoader inference load + contract
  * projection, the Hive input table rewritten as ORC, the three sink
  * tables truncated), then the three reference queries in a seed-drawn
  * order, each writing its ORC sink through Catalog. Pass `p` takes drop
  * `p` of the seed's drops, cyclically. Every table the pass wrote stays
  * until the next pass, so the last op's check reads back the answers of
  * all four. */
final class ScorecardEtl(cfg: Main.Cfg) extends Workload {
  override val hive = true
  private val conf = Configuration("etl", "college_scorecard", "etl",
    "most_expensive", "highest_debt", "completion_rate")
  private val sinks = Seq(
    conf.mostExpensiveTable -> "STABBR STRING, COSTT4_A_MEAN DOUBLE",
    conf.highestDebtTable -> ("UNITID INT, OPEID INT, INSTNM STRING, " +
      "CITY STRING, STABBR STRING, DEBT_MDN DOUBLE"),
    conf.completionRateTable -> ("CITY STRING, C100_4_MEAN DOUBLE, " +
      "C100_4_STDDEV DOUBLE, COUNT BIGINT"))
  private val drops = Option(new File(s"${cfg.inputs}/scorecard").listFiles)
    .toSeq.flatten.map(_.getPath).filter(_.endsWith(".csv.gz")).sorted
  require(drops.nonEmpty, "no scorecard drops")
  private val input = s"${conf.inputDatabase}.${conf.inputTable}"

  override def setup(spark: SparkSession): Unit = {
    Catalog.createDatabase(spark, conf.outputDatabase)
    sinks.foreach { case (t, ddl) =>
      Catalog.createOrcTable(spark, s"${conf.outputDatabase}.$t", ddl) }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  /** The pass's answers, read back in one query after its last op: the
    * input table's row count, UNITID sum and non-null counts, and each sink
    * table's rows, as "ROWS:" and a JSON object of JSON rows by op kind. */
  private def readBack(spark: SparkSession): String = {
    val json = "map('ignoreNullFields', 'false')"
    val ingest = s"SELECT 'ingest' AS k, to_json(array(count(*), sum(UNITID), " +
      "count(OPEID), count(COSTT4_A), count(DEBT_MDN), count(C100_4), " +
      s"count(C150_4))) AS j FROM $input"
    val parts = ingest +: sinks.zip(Seq("q1", "q2", "q3")).map {
      case ((t, _), k) => s"SELECT '$k' AS k, to_json(struct(*), $json) AS j " +
        s"FROM ${conf.outputDatabase}.$t" }
    val rows = spark.sql(parts.mkString(" UNION ALL ")).collect()
    "ROWS:" + mapper.writeValueAsString(
      rows.groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getString(1)) })
  }

  def pass(ctx: Ctx, p: Int, rng: Random): Seq[Op] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val path = drops(p % drops.size)
    val drop = new File(path).getName.stripSuffix(".csv.gz")
    val ingest = Op(s"ingest:$drop",
      run = () => {
        val df = tr.span("CsvLoader.load", "io")(
          Scorecard.loadScorecardData(spark, path))
        tr.span("Catalog.saveAsOrcTable", "catalog.write")(
          Catalog.saveAsOrcTable(df, input))
        tr.span("truncate sinks", "catalog.ddl")(sinks.foreach { case (t, _) =>
          spark.sql(s"TRUNCATE TABLE ${conf.outputDatabase}.$t").collect() })
      },
      check = _ => "")
    val queries = rng.shuffle(Seq[(String, () => scala.util.Try[Unit])](
      "q1" -> (() => Scorecard.fiveMostExpensiveStates(spark, conf)),
      "q2" -> (() => Scorecard.fiveTexasCollegesWithHighestMedianDebt(spark, conf)),
      "q3" -> (() => Scorecard.completionRateStatsInTexasByCity(spark, conf))))
    ingest +: queries.map { case (q, fn) =>
      Op(s"$q:$drop",
        run = () => tr.span(s"Scorecard.$q", "parity")(fn().get),
        check = _ => if (q == queries.last._1) readBack(spark) else "")
    }
  }

  override def finish(ctx: Ctx, ops: Seq[Main.OpResult]): Map[String, Any] = {
    // bytes on disk after the last pass over the bytes of the drop it took
    val last = ops.map(_.pass).max
    val inBytes = new File(drops(last % drops.size)).length.toDouble
    val left = Workloads.dirBytes(new File(s"${cfg.work}/warehouse1")).toDouble
    Map("disk_bytes" -> left, "input_bytes" -> inBytes)
  }
}
