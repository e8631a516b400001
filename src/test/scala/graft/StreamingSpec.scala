package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.tables.Tables

/** Streaming twins verified against their batch equivalents: the same
  * events through readStream + memory sink must reproduce the batch
  * window/session results (modulo open sessions, which a far-future flush
  * batch closes). */
class StreamingSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft-events").toString
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming windowed counts match batch q15 after full drain") {
    val q = EventStreams.windowedCounts(
      EventStreams.readEventStream(spark, eventsDir))
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode holds back windows not yet past the watermark; the
      // final windows stay open → compare the emitted (closed) subset
      val streamed = spark.table("win_out")
        .select("hour_start", "event_type", "n_events").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.queries.Core.q15Tumbling(spark, sf)
        .select("hour_start", "event_type", "n_events").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed.subsetOf(batch))
      assert(streamed.nonEmpty, "no windows emitted — watermark never advanced?")
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    // stream the same file dir twice would re-read identical event_ids only
    // if files differed; instead duplicate rows inside one batch
    val dupDir = java.nio.file.Files.createTempDirectory("graft-dup").toString
    val base = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value").limit(100)
    base.union(base).coalesce(1).write.mode("overwrite").parquet(dupDir)
    val q = EventStreams.dedupStream(
      EventStreams.readEventStream(spark, dupDir))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 100)
    } finally q.stop()
  }

  test("stream-static enrichment join attaches dimension values") {
    val dim = Tables.events(spark, sf).select("user_id").distinct()
      .withColumn("tier", col("user_id") % 3)
    val q = EventStreams.enrich(
      EventStreams.readEventStream(spark, eventsDir), dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("enrich_out")
      assert(out.count() === Tables.events(spark, sf).count())
      assert(out.filter(col("tier").isNull).count() === 0)
    } finally q.stop()
  }

  test("stream-stream join matches the equivalent batch join") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.purchasesWithRecentSignup(stream)
      .writeStream.format("memory").queryName("ss_join_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ss_join_out")
        .select("p_id", "s_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ev = Tables.events(spark, sf)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val s = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
          col("ts").as("s_ts"))
      val batch = p.join(s,
        col("user_id") === col("s_user") &&
          col("s_ts") <= col("p_ts") &&
          col("s_ts") >= col("p_ts") - org.apache.spark.sql.functions
            .expr("INTERVAL 1 HOUR"))
        .select("p_id", "s_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // append-mode holds back pairs inside the final watermark horizon
      assert(streamed.subsetOf(batch))
      assert(streamed.nonEmpty, "no joined pairs emitted")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: matched rows emit " +
      "eagerly, NULL rows only after the watermark closes the horizon " +
      "(across a restart), late signups discard, final set equals the " +
      "batch left-outer join") {
    import java.sql.Timestamp
    val srcDir = Files.createTempDirectory("graft-ssoj-src").toString
    val ckpt = Files.createTempDirectory("graft-ssoj-ckpt").toString
    val outDir = Files.createTempDirectory("graft-ssoj-out").toString
    def t(min: Long) = new Timestamp(3600L * 1000L + min * 60000L)
    def write(rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(srcDir)
    // memory sink is not restart-durable (committed rows vanish with
    // the table on restart) — accumulate through the idempotent
    // batch_id-partitioned foreachBatch pattern instead
    def start() = EventStreams.purchasesWithSignupOuter(
        EventStreams.readEventStream(spark, srcDir))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.withColumn("batch_id", lit(id)).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outDir)
      }.start()
    def emitted(): Map[Long, Set[Option[Long]]] =
      spark.read.parquet(outDir).select("p_id", "s_id").collect()
        .groupBy(_.getLong(0))
        .map { case (p, rs) =>
          p -> rs.map(r => if (r.isNullAt(1)) None else Some(r.getLong(1)))
            .toSet
        }

    // wave 1: u1's purchase has a signup 30 min before (matched pair);
    // u2's purchase has NO signup; u3 signs up without purchasing.
    // Watermark after the wave = t(90) − 10 min = t(80) < every
    // purchase's horizon, so no NULL row may emit yet.
    write(Seq(
      (101L, t(60), 1L, "signup", 0.0),
      (201L, t(90), 1L, "purchase", 5.0),
      (202L, t(90), 2L, "purchase", 7.0),
      (102L, t(80), 3L, "signup", 0.0)))
    val q1 = start()
    try {
      q1.processAllAvailable()
      val e1 = emitted()
      assert(e1.get(201L).contains(Set(Some(101L))),
        s"matched pair must emit eagerly: $e1")
      assert(!e1.contains(202L),
        s"the NULL row emitted BEFORE the watermark closed u2's " +
          s"horizon: $e1")
    } finally q1.stop()

    // wave 2 lands while the query is DOWN: one far-future event per
    // SIDE (each side's watermark node only sees rows that pass its
    // filter) pushes the global watermark past every open horizon —
    // the restarted query must now emit u2's NULL row exactly once
    write(Seq(
      (901L, t(60 * 24), 8L, "signup", 0.0),
      (902L, t(60 * 24), 9L, "purchase", 0.0)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val e2 = emitted()
      assert(e2.get(202L).contains(Set(None)),
        s"the watermark passed u2's horizon — exactly one NULL row " +
          s"must emit: $e2")
      assert(e2.get(201L).contains(Set(Some(101L))),
        s"restart duplicated or lost the matched pair: $e2")

      // wave 3: a LATE signup for u2, inside the purchase's hour window
      // but far behind the watermark — discarded by the late-data rule,
      // it must neither produce a matched row nor un-emit the NULL one
      write(Seq((103L, t(85), 2L, "signup", 0.0)))
      q2.processAllAvailable()
      val e3 = emitted()
      assert(e3.get(202L).contains(Set(None)),
        s"a late signup resurrected an already-NULL-emitted purchase: $e3")

      // batch equivalence on the closed horizon: the streamed rows for
      // wave-1 purchases equal the batch LEFT OUTER interval join over
      // the non-late events (the far-future purchase 902 is excluded —
      // its own horizon is still open, so the stream rightly withholds)
      val ev = spark.read.parquet(srcDir)
        .filter(col("event_id") =!= 103L) // the discarded late row
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"))
      val s = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
          col("ts").as("s_ts"))
      val batch = p.join(s,
        col("user_id") === col("s_user") &&
          col("s_ts") <= col("p_ts") &&
          col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
        "left_outer")
        .filter(col("p_id") < 900L)
        .select("p_id", "s_id").collect()
        .groupBy(_.getLong(0))
        .map { case (pp, rs) =>
          pp -> rs.map(r =>
            if (r.isNullAt(1)) None else Some(r.getLong(1))).toSet
        }
      assert(e3.filter(_._1 < 900L) === batch)
    } finally q2.stop()
  }

  test("stream-stream FULL OUTER interval join: matched rows emit " +
      "eagerly, BOTH NULL arms emit exactly once at their own horizon " +
      "expiry (across a restart), late rows discard, final set equals " +
      "the batch full-outer join") {
    import java.sql.Timestamp
    val srcDir = Files.createTempDirectory("graft-ssfj-src").toString
    val ckpt = Files.createTempDirectory("graft-ssfj-ckpt").toString
    val outDir = Files.createTempDirectory("graft-ssfj-out").toString
    def t(min: Long) = new Timestamp(3600L * 1000L + min * 60000L)
    def write(rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(srcDir)
    def start() = EventStreams.purchasesWithSignupFull(
        EventStreams.readEventStream(spark, srcDir))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.withColumn("batch_id", lit(id)).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outDir)
      }.start()
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    def pairs(): Set[(Option[Long], Option[Long])] =
      spark.read.parquet(outDir).select("p_id", "s_id").collect()
        .map(r => (opt(r, 0), opt(r, 1))).toSet

    // wave 1: u1 matched pair; u2 purchase with NO signup (left NULL
    // arm pending); u3 signup with NO purchase (right NULL arm
    // pending). Watermark after the wave = t(90) − 10 = t(80): u2's
    // purchase horizon (t(90)) and u3's signup horizon (t(80) + 1h)
    // are both still open — NEITHER NULL row may emit yet.
    write(Seq(
      (101L, t(60), 1L, "signup", 0.0),
      (201L, t(90), 1L, "purchase", 5.0),
      (202L, t(90), 2L, "purchase", 7.0),
      (102L, t(80), 3L, "signup", 0.0)))
    val q1 = start()
    try {
      q1.processAllAvailable()
      val e1 = pairs()
      assert(e1.contains((Some(201L), Some(101L))),
        s"matched pair must emit eagerly: $e1")
      assert(!e1.contains((Some(202L), None)),
        s"purchase NULL arm emitted before its horizon closed: $e1")
      assert(!e1.contains((None, Some(102L))),
        s"signup NULL arm emitted before its horizon closed: $e1")
    } finally q1.stop()

    // wave 2 lands while the query is DOWN: far-future events on BOTH
    // sides push the watermark past every open horizon — the restarted
    // query must emit u2's NULL-signup row AND u3's NULL-purchase row,
    // each exactly once
    write(Seq(
      (901L, t(60 * 24), 8L, "signup", 0.0),
      (902L, t(60 * 24), 9L, "purchase", 0.0)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val e2 = pairs()
      assert(e2.contains((Some(202L), None)),
        s"left NULL arm missing after the horizon closed: $e2")
      assert(e2.contains((None, Some(102L))),
        s"right NULL arm missing after the horizon closed: $e2")
      // the signup arm keeps its user through the coalesce
      val u3 = spark.read.parquet(outDir)
        .filter(col("s_id") === 102L).select("user_id").head().getLong(0)
      assert(u3 === 3L, "the signup NULL arm lost its user_id")

      // wave 3: late rows on BOTH sides, inside their partners' windows
      // but far behind the watermark — discarded, resurrecting nothing
      write(Seq(
        (103L, t(85), 2L, "signup", 0.0),
        (203L, t(95), 3L, "purchase", 0.0)))
      q2.processAllAvailable()
      val e3 = pairs()
      assert(e3.contains((Some(202L), None)) &&
        !e3.contains((Some(202L), Some(103L))),
        s"a late signup resurrected a NULL-emitted purchase: $e3")
      assert(e3.contains((None, Some(102L))) &&
        !e3.contains((Some(203L), Some(102L))),
        s"a late purchase resurrected a NULL-emitted signup: $e3")

      // batch equivalence on the closed horizon: streamed rows among
      // wave-1 events equal the batch FULL OUTER interval join over the
      // non-late events (the far-future pair's own horizons stay open,
      // so the stream rightly withholds their unmatched rows)
      val ev = spark.read.parquet(srcDir)
        .filter(col("event_id") =!= 103L && col("event_id") =!= 203L)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"))
      val s = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
          col("ts").as("s_ts"))
      val batch = p.join(s,
        col("user_id") === col("s_user") &&
          col("s_ts") <= col("p_ts") &&
          col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
        "full_outer")
        .filter(coalesce(col("p_id"), lit(0L)) < 900L &&
          coalesce(col("s_id"), lit(0L)) < 900L)
        .select("p_id", "s_id").collect()
        .map(r => (opt(r, 0), opt(r, 1))).toSet
      val streamedClosed = e3.filter { case (pp, ss) =>
        pp.forall(_ < 900L) && ss.forall(_ < 900L) }
      assert(streamedClosed === batch)
    } finally q2.stop()
  }

  test("checkpointed stream restarts exactly-once (no dupes, no loss)") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ckpt-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.filter(col("event_id") < 500).coalesce(1)
      .write.mode("overwrite").parquet(srcDir)

    def start() = EventStreams.readEventStream(spark, srcDir)
      .groupBy(col("event_type"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream.format("memory").queryName("ckpt_out")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    // second batch arrives while the query is down
    ev.filter(col("event_id") >= 500).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val streamed = spark.table("ckpt_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = Tables.events(spark, sf).groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === batch,
        s"restart lost or duplicated events: $streamed vs $batch")
    } finally q2.stop()
  }

  test("foreachBatch changelog sink: compacted totals match batch; batch re-run is idempotent") {
    // fresh source dir: eventsDir gains flush rows in the sessionize test
    val srcDir = Files.createTempDirectory("graft-fb-src").toString
    val outDir = Files.createTempDirectory("graft-fb-out").toString + "/changelog"
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.coalesce(1).write.mode("overwrite").parquet(srcDir)

    val q = EventStreams.userTotalsToChangelog(
      EventStreams.readEventStream(spark, srcDir), outDir)
    try q.processAllAvailable() finally q.stop()

    val latest = EventStreams.latestTotals(spark, outDir)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), graft.ops.Det.dsum(col("value")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(latest === batch)

    // idempotence: re-writing a batch partition with the same rows (the
    // crash-recovery path) leaves the compacted view unchanged
    val part0 = spark.read.parquet(outDir).filter(col("batch_id") === 0)
      .cache()
    part0.count()
    part0.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
    val after = EventStreams.latestTotals(spark, outDir)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(after === batch, "re-running a batch changed the compacted view")
  }

  test("streaming ingest gate over micro-batched drops equals batch q99") {
    import graft.ext.Corpus
    import graft.streaming.DocStreams
    // incoming docs split into 3 "crawl drops" (3 files = 3 micro-batches)
    val bucket = graft.ext.Text.md5Bucket1000(col("doc_id"))
    val docs = Tables.documents(spark, sf)
    val incoming = docs.filter(bucket >= Corpus.IngestOldMax)
    val dropsDir = Files.createTempDirectory("graft-drops").toString
    incoming.withColumn("drop", pmod(col("doc_id"), lit(3)))
      .repartition(3, col("drop")).drop("drop")
      .write.mode("overwrite").parquet(dropsDir)
    val corpusShingles = graft.ext.Text.ngramIndexOf(
        docs.filter(bucket < Corpus.IngestOldMax), 5)
      .select(col("shingle")).distinct()
    val ckpt = Files.createTempDirectory("graft-gate-ckpt").toString
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, String)]
    val q = DocStreams.gatedIngest(
      DocStreams.readDocStream(spark, dropsDir), corpusShingles, ckpt) {
      (verdicts, _) =>
        collected.synchronized {
          collected ++= verdicts.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        }
    }
    try q.processAllAvailable() finally q.stop()
    val batch = Corpus.ingestGate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(collected.toSet === batch.toSet,
      "streaming gate verdicts diverge from batch q99")
    assert(collected.size === batch.length, "dupes across micro-batches")
  }

  test("streaming ingest gate restart: drops arriving while down are gated exactly once") {
    import graft.ext.Corpus
    import graft.streaming.DocStreams
    val bucket = graft.ext.Text.md5Bucket1000(col("doc_id"))
    val docs = Tables.documents(spark, sf)
    val incoming = docs.filter(bucket >= Corpus.IngestOldMax)
      .localCheckpoint(eager = false) // two filtered writes below
    val corpusShingles = graft.ext.Text.ngramIndexOf(
        docs.filter(bucket < Corpus.IngestOldMax), 5)
      .select(col("shingle")).distinct()
    val dropsDir = Files.createTempDirectory("graft-drops2").toString
    val ckpt = Files.createTempDirectory("graft-gate-ckpt2").toString
    incoming.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dropsDir)
    val collected = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start() = DocStreams.gatedIngest(
      DocStreams.readDocStream(spark, dropsDir), corpusShingles, ckpt) {
      (verdicts, _) =>
        collected.synchronized {
          collected ++= verdicts.select("doc_id").collect().map(_.getLong(0))
        }
    }
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // the next crawl drop lands while the gate is DOWN
    incoming.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dropsDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val expected = incoming.select("doc_id").collect().map(_.getLong(0))
    assert(collected.sorted.toSeq === expected.sorted.toSeq,
      "restart lost or re-gated documents")
  }

  test("streaming minhash gate: 3 micro-batched drops + restart equal batch q113") {
    import graft.ext.{Corpus, Dedup}
    import graft.streaming.DocStreams
    val bucket = graft.ext.Text.md5Bucket1000(col("doc_id"))
    val docs = Tables.documents(spark, sf)
    val incoming = docs.filter(bucket >= Corpus.IngestOldMax)
      .localCheckpoint(eager = false) // three filtered writes below
    // the static persisted index side, computed once like a release would
    val bandIndex = Dedup.corpusBandIndexOf(
        docs.filter(bucket < Corpus.IngestOldMax))
      .localCheckpoint(eager = false)
    val dropsDir = Files.createTempDirectory("graft-mh-drops").toString
    val ckpt = Files.createTempDirectory("graft-mh-ckpt").toString
    // wave 1: two drop files; maxFilesPerTrigger=1 forces one micro-batch
    // per drop, so the equality is genuinely across >=3 micro-batches
    incoming.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dropsDir)
    incoming.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(dropsDir)
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String)]
    val batchIds = scala.collection.mutable.Set.empty[Long]
    def start() = DocStreams.gatedNearDup(
      DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
      bandIndex, ckpt) { (verdicts, id) =>
      collected.synchronized {
        collected ++= verdicts.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getString(2)))
        batchIds += id
      }
    }
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // wave 2 lands while the gate is DOWN; restart must gate it once
    incoming.filter(col("doc_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(dropsDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(batchIds.size >= 3, s"expected >=3 micro-batches, got $batchIds")
    val batch = Dedup.minhashGate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(collected.toSet === batch.toSet,
      "streaming minhash gate verdicts diverge from batch q113")
    assert(collected.size === batch.length, "dupes across micro-batches")
  }

  test("streaming incremental clusters: each drop's merge equals full recompute; restart re-seeds") {
    import graft.ext.Dedup
    import graft.streaming.DocStreams
    // seed corpus = doc_id%4==0 (7 internal near-dup pairs at sf0.001);
    // three waves from the other residues, each its own micro-batch
    val docs = Tables.documents(spark, sf).localCheckpoint(eager = false)
    def slice(r: Int) = docs.filter(col("doc_id") % 4 === r)
    def fullRecompute(upTo: Int): Set[(Long, Long)] =
      Dedup.connectedComponents(
        Dedup.minhashPairsOf(docs.filter(col("doc_id") % 4 <= upTo), 0.5))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dropsDir = Files.createTempDirectory("graft-cc-drops").toString
    val ckpt = Files.createTempDirectory("graft-cc-ckpt").toString
    slice(1).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    @volatile var latest = Array.empty[(Long, Long)]
    val batchIds = scala.collection.mutable.Set.empty[Long]
    def start(sigs: org.apache.spark.sql.DataFrame,
        labels: org.apache.spark.sql.DataFrame) =
      DocStreams.maintainClusters(
        DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
        sigs, labels, ckpt) { (lab, id) =>
        this.synchronized {
          latest = lab.collect().map(r => (r.getLong(0), r.getLong(1)))
          batchIds += id
        }
      }
    // release state: the previous clustering + its signature index
    val seedSigs = Dedup.signatures(slice(0))
    val q1 = start(seedSigs,
      Dedup.connectedComponents(
        Dedup.minhashPairsFromSignatures(seedSigs, 0.5)))
    try q1.processAllAvailable() finally q1.stop()
    assert(latest.toSet === fullRecompute(2),
      "incremental labels after waves 1+2 diverge from full recompute")
    // wave 3 lands while the maintainer is DOWN; the restart re-seeds
    // state from the persisted artifacts (labels from the sink's last
    // write, signatures from the ingested corpus) and must catch up
    slice(3).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start(
      Dedup.signatures(docs.filter(col("doc_id") % 4 <= 2)),
      latest.toSeq.toDF("doc_id", "cluster_id"))
    try q2.processAllAvailable() finally q2.stop()
    assert(batchIds.size >= 3, s"expected >=3 micro-batches, got $batchIds")
    assert(latest.toSet === fullRecompute(3),
      "post-restart labels diverge from full recompute")
    assert(latest.nonEmpty, "fixture must produce clusters")
  }

  test("streaming mutual-kNN maintenance: per-wave pairs equal a batch " +
      "rebuild (including evictions); restart re-seeds") {
    import graft.ext.Similarity
    import graft.streaming.DocStreams
    val vecs = Tables.embeddings(spark, sf).localCheckpoint(eager = false)
    def slice(r: Int) = vecs.filter(col("vec_id") % 4 === r)
    def ingested(upTo: Int) = vecs.filter(col("vec_id") % 4 <= upTo)
    def fullRebuild(upTo: Int): Set[(Long, Long, Long, Long)] =
      Similarity.mutualPairsOfVecs(ingested(upTo)).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Long]("rnk_ab"), r.getAs[Long]("rnk_ba"))).toSet
    val dropsDir = Files.createTempDirectory("graft-mknn-drops").toString
    val ckpt = Files.createTempDirectory("graft-mknn-ckpt").toString
    slice(1).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    @volatile var latest = Array.empty[(Long, Long, Long, Long)]
    val waves = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Long, Long)]]
    def start(seed: org.apache.spark.sql.DataFrame) =
      DocStreams.maintainMutualKnn(
        DocStreams.readVecStream(spark, dropsDir, maxFilesPerTrigger = 1),
        seed, ckpt) { (pairs, id) =>
        this.synchronized {
          latest = pairs.collect().map(r =>
            (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
              r.getAs[Long]("rnk_ab"), r.getAs[Long]("rnk_ba")))
          waves(id) = latest.toSet
        }
      }
    val q1 = start(slice(0))
    try q1.processAllAvailable() finally q1.stop()
    assert(latest.toSet === fullRebuild(2),
      "maintained mutual pairs diverge from batch rebuild after waves 1+2")
    // non-monotonicity is REAL on this fixture: at least one wave must
    // change some existing pair (eviction or rank shift), or the
    // incremental path never exercised its re-rank arm
    val w = waves.toSeq.sortBy(_._1).map(_._2)
    if (w.size >= 2)
      assert(w.sliding(2).exists {
        case Seq(p1, p2) => (p1 -- p2).nonEmpty
        case _ => false
      }, "every wave only grew the pair set — eviction path unexercised")
    // wave 3 lands while the maintainer is DOWN; restart re-seeds from
    // the full ingested corpus and must catch up
    slice(3).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start(ingested(2))
    try q2.processAllAvailable() finally q2.stop()
    assert(latest.toSet === fullRebuild(3),
      "post-restart mutual pairs diverge from batch rebuild")
    assert(latest.nonEmpty, "fixture must produce mutual pairs")
  }

  test("streaming ANN index maintenance: per-wave probes equal batch q18 rebuild; restart re-seeds") {
    import graft.ext.Similarity
    import graft.streaming.DocStreams
    // seed corpus = vec_id%4==0 (includes probes 0,4,8); three waves from
    // the other residues, each its own micro-batch
    val vecs = Tables.embeddings(spark, sf).localCheckpoint(eager = false)
    def slice(r: Int) = vecs.filter(col("vec_id") % 4 === r)
    def fullRebuild(upTo: Int): Set[(Long, Long, Long)] =
      Similarity.knnLshServe(
        Similarity.lshIndexOf(vecs.filter(col("vec_id") % 4 <= upTo)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dropsDir = Files.createTempDirectory("graft-ann-drops").toString
    val ckpt = Files.createTempDirectory("graft-ann-ckpt").toString
    slice(1).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    @volatile var latest = Array.empty[(Long, Long, Long)]
    val batchIds = scala.collection.mutable.Set.empty[Long]
    def start(initialIndex: org.apache.spark.sql.DataFrame) =
      DocStreams.maintainAnnIndex(
        DocStreams.readVecStream(spark, dropsDir, maxFilesPerTrigger = 1),
        initialIndex, ckpt) { (topk, id) =>
        this.synchronized {
          latest = topk.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2)))
          batchIds += id
        }
      }
    val q1 = start(Similarity.lshIndexOf(slice(0)))
    try q1.processAllAvailable() finally q1.stop()
    assert(latest.toSet === fullRebuild(2),
      "maintained index probes diverge from batch rebuild after waves 1+2")
    // wave 3 lands while the maintainer is DOWN; the restart re-seeds the
    // index from the ingested corpus and must catch up
    slice(3).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start(Similarity.lshIndexOf(vecs.filter(col("vec_id") % 4 <= 2)))
    try q2.processAllAvailable() finally q2.stop()
    assert(batchIds.size >= 3, s"expected >=3 micro-batches, got $batchIds")
    assert(latest.toSet === fullRebuild(3),
      "post-restart probes diverge from batch rebuild")
    assert(latest.nonEmpty, "fixture must produce neighbors")
  }

  test("streaming BM25 index maintenance: per-wave serve equals batch q118 rebuild; restart re-seeds") {
    import graft.ext.Index
    import graft.streaming.DocStreams
    // seed corpus = doc_id%4==0; three waves from the other residues.
    // df/N/S are derived from the maintained index at probe time, so
    // every wave's ranking must equal a from-scratch q118 over the
    // docs ingested so far — including the global-statistics shift.
    val docs = Tables.documents(spark, sf).localCheckpoint(eager = false)
    def slice(r: Int) = docs.filter(col("doc_id") % 4 === r)
    def fullRebuild(upTo: Int): Set[(Long, Long, Long, Double)] = {
      val (tfc, lens) = Index.bm25IndexOf(docs.filter(col("doc_id") % 4 <= upTo))
      Index.bm25ServeFrom(spark, tfc, lens).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    }
    val dropsDir = Files.createTempDirectory("graft-bm25-drops").toString
    val ckpt = Files.createTempDirectory("graft-bm25-ckpt").toString
    slice(1).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    @volatile var latest = Array.empty[(Long, Long, Long, Double)]
    val batchIds = scala.collection.mutable.Set.empty[Long]
    def start(seed: org.apache.spark.sql.DataFrame) = {
      val (tfc, lens) = Index.bm25IndexOf(seed)
      DocStreams.maintainBm25Index(
        DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
        tfc, lens, ckpt) { (topk, id) =>
        this.synchronized {
          latest = topk.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          batchIds += id
        }
      }
    }
    val q1 = start(slice(0))
    try q1.processAllAvailable() finally q1.stop()
    assert(latest.toSet === fullRebuild(2),
      "maintained BM25 serve diverges from batch rebuild after waves 1+2")
    // wave 3 lands while the maintainer is DOWN; the restart re-seeds the
    // index from the ingested corpus and must catch up
    slice(3).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start(docs.filter(col("doc_id") % 4 <= 2))
    try q2.processAllAvailable() finally q2.stop()
    assert(batchIds.size >= 3, s"expected >=3 micro-batches, got $batchIds")
    assert(latest.toSet === fullRebuild(3),
      "post-restart BM25 serve diverges from batch rebuild")
    assert(latest.nonEmpty, "fixture must produce retrieval results")
  }

  test("streaming hybrid serve: fusing the two maintained indexes equals batch q158 over ingested corpus") {
    import graft.ext.{Index, Retrieval, Similarity}
    import graft.streaming.DocStreams
    import org.apache.spark.sql.DataFrame
    // aligned drops: doc_id and vec_id share the id space, so residue r
    // drops the SAME documents into both maintainers
    val docs = Tables.documents(spark, sf).localCheckpoint(eager = false)
    val vecs = Tables.embeddings(spark, sf).localCheckpoint(eager = false)
    val docDrops = Files.createTempDirectory("graft-hyb-docs").toString
    val vecDrops = Files.createTempDirectory("graft-hyb-vecs").toString
    docs.filter(col("doc_id") % 4 === 1).coalesce(1)
      .write.mode("overwrite").parquet(docDrops)
    docs.filter(col("doc_id") % 4 === 2).coalesce(1)
      .write.mode("append").parquet(docDrops)
    vecs.filter(col("vec_id") % 4 === 1).coalesce(1)
      .write.mode("overwrite").parquet(vecDrops)
    vecs.filter(col("vec_id") % 4 === 2).coalesce(1)
      .write.mode("append").parquet(vecDrops)
    @volatile var lexServe: DataFrame = null
    @volatile var annServe: DataFrame = null
    val (seedTfc, seedLens) =
      Index.bm25IndexOf(docs.filter(col("doc_id") % 4 === 0))
    val q1 = DocStreams.maintainBm25Index(
      DocStreams.readDocStream(spark, docDrops, maxFilesPerTrigger = 1),
      seedTfc, seedLens,
      Files.createTempDirectory("graft-hyb-ck1").toString) { (topk, _) =>
      this.synchronized { lexServe = topk.localCheckpoint() } }
    val q2 = DocStreams.maintainAnnIndex(
      DocStreams.readVecStream(spark, vecDrops, maxFilesPerTrigger = 1),
      Similarity.lshIndexOf(vecs.filter(col("vec_id") % 4 === 0)),
      Files.createTempDirectory("graft-hyb-ck2").toString,
      k = Retrieval.FuseK) { (topk, _) =>
      this.synchronized { annServe = topk.localCheckpoint() } }
    try { q1.processAllAvailable(); q2.processAllAvailable() }
    finally { q1.stop(); q2.stop() }
    val probeIds = Seq(0L, 1L, 2L)
    def toTuples(df: DataFrame) = df.collect().map { r =>
      def opt(f: String) =
        if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getAs[Long](f))
      (r.getLong(0), r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("rrf"), opt("lex_rnk"), opt("vec_rnk"))
    }.toSet
    val streamed = toTuples(Retrieval.rrfFuse(
      lexServe.filter(col("rnk") <= Retrieval.FuseK)
        .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk")),
      annServe.filter(col("query_id").isin(probeIds: _*))
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rnk").as("vec_rnk"))))
    val (bTfc, bLens) = Index.bm25IndexOf(docs.filter(col("doc_id") % 4 <= 2))
    val batch = toTuples(Retrieval.rrfFuse(
      Index.bm25ServeFrom(spark, bTfc, bLens)
        .filter(col("rnk") <= Retrieval.FuseK)
        .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk")),
      Similarity.knnLshServe(
          Similarity.lshIndexOf(vecs.filter(col("vec_id") % 4 <= 2)),
          Retrieval.FuseK)
        .filter(col("query_id").isin(probeIds: _*))
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rnk").as("vec_rnk"))))
    assert(streamed === batch,
      "fused maintained serves diverge from the batch hybrid rebuild")
    assert(streamed.nonEmpty, "fixture must produce fused results")
  }

  test("streaming sessionization matches batch q16 session count") {
    val flushDir = eventsDir // second file into the same stream dir
    val q = EventStreams.sessionize(
      EventStreams.readEventStream(spark, eventsDir)
        .as[EventStreams.Event])
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // flush batch: one far-future event per user closes all sessions
      val users = Tables.events(spark, sf).select("user_id").distinct()
        .as[Long].collect()
      import java.sql.Timestamp
      val far = new Timestamp(4102444800000L) // 2100-01-01
      users.map(u => (1000000L + u, far, u, "flush", 0.0)).toSeq
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(flushDir)
      q.processAllAvailable()

      val streamed = spark.table("sess_out")
        .filter(col("session_start") < lit("2090-01-01").cast("timestamp"))
        .select("user_id", "session_start", "session_end", "n_events")
      val batch = graft.queries.Core.q16Sessionize(spark, sf)
        .select("user_id", "session_start", "session_end", "n_events")
      // exact session-for-session equality (micro-exact boundaries, not
      // just matching counts — the Micros fix makes this assertable)
      assert(streamed.exceptAll(batch).isEmpty,
        "flatMapGroupsWithState emitted a session batch q16 does not have")
      assert(batch.exceptAll(streamed).isEmpty,
        "flatMapGroupsWithState missed a session batch q16 has")
    } finally q.stop()
  }

  test("transformWithState sessionization equals batch q16 session-for-session") {
    // Spark 4's arbitrary-state v2 API only runs on the RocksDB state
    // store; swap the provider for this query and restore after.
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val twsDir = Files.createTempDirectory("graft-tws-src").toString
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(twsDir)
    val q = EventStreams.sessionizeTws(
      EventStreams.readEventStream(spark, twsDir)
        .as[EventStreams.Event])
      .writeStream.format("memory").queryName("tws_sess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // flush batch: one far-future event per user advances the watermark
      // past every real session's end+gap, firing the close timers
      val users = Tables.events(spark, sf).select("user_id").distinct()
        .as[Long].collect()
      import java.sql.Timestamp
      val far = new Timestamp(4102444800000L) // 2100-01-01
      users.map(u => (2000000L + u, far, u, "flush", 0.0)).toSeq
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(twsDir)
      q.processAllAvailable()

      val streamed = spark.table("tws_sess_out")
        .filter(col("session_start") < lit("2090-01-01").cast("timestamp"))
        .select("user_id", "session_start", "session_end", "n_events")
      // exact session-for-session equality with the batch spelling, not
      // just matching counts: every (user, start, end, n) must coincide
      val batch = graft.queries.Core.q16Sessionize(spark, sf)
        .select("user_id", "session_start", "session_end", "n_events")
      val extra = streamed.exceptAll(batch).collect()
      val missing = batch.exceptAll(streamed).collect()
      assert(extra.isEmpty,
        s"transformWithState emitted sessions batch q16 does not have: ${extra.take(5).mkString("; ")}")
      assert(missing.isEmpty,
        s"transformWithState missed sessions batch q16 has: ${missing.take(5).mkString("; ")}")
    } finally {
      q.stop()
      prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("transformWithState ListState/MapState top-k maintainer: the " +
      "per-wave leaderboard equals the batch q67-shape recompute, " +
      "across a restart and a fully REDELIVERED wave") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val srcDir = Files.createTempDirectory("graft-topk-src").toString
    val ckpt = Files.createTempDirectory("graft-topk-ckpt").toString
    val outDir = Files.createTempDirectory("graft-topk-out").toString
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val w1 = ev.filter(col("event_id") < 300)
    val w2 = ev.filter(col("event_id") >= 300 && col("event_id") < 700)
    def start() = EventStreams.maintainTopK(
        EventStreams.readEventStream(spark, srcDir)
          .as[EventStreams.Event], k = 10)
      .toDF().writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.withColumn("batch_id", lit(id)).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outDir)
      }.start()
    // the NEWEST emission per key is the leaderboard (each batch that
    // touches a key re-emits its full top-k)
    def leaderboard(): Set[(String, Long, Long, Double)] = {
      spark.read.parquet(outDir)
        .withColumn("mx", max(col("batch_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("eventType"))))
        .filter(col("batch_id") === col("mx"))
        .select("eventType", "rnk", "eventId", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    }
    def batchTop(df: org.apache.spark.sql.DataFrame)
        : Set[(String, Long, Long, Double)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      df.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select("event_type", "rnk", "event_id", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    }
    w1.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(leaderboard() === batchTop(w1))
    } finally q1.stop()
    // wave 2 lands while the query is DOWN — the restarted maintainer's
    // ListState must carry wave 1's leaderboard through the checkpoint
    w2.coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(leaderboard() === batchTop(w1.union(w2)),
        "restart lost or corrupted the carried ListState")
      // wave 3 REDELIVERS wave 1 verbatim (the at-least-once source's
      // failure mode): MapState membership must recognize ids already
      // on the leaderboard, and evicted ids re-compete and lose — the
      // leaderboard must not change
      w1.coalesce(1).write.mode("append").parquet(srcDir)
      q2.processAllAvailable()
      assert(leaderboard() === batchTop(w1.union(w2)),
        "a redelivered wave perturbed the leaderboard")
      // wave 4: the redelivery lands IN THE SAME micro-batch as the
      // original (crash before batch commit) — the in-batch distinctBy
      // must keep the duplicate out of two slots, where the MapState
      // alone cannot (neither copy is in the map yet)
      val w4 = ev.filter(col("event_id") >= 700 && col("event_id") < 900)
      w4.union(w4).coalesce(1).write.mode("append").parquet(srcDir)
      q2.processAllAvailable()
      assert(leaderboard() === batchTop(w1.union(w2).union(w4)),
        "a same-batch duplicate occupied two leaderboard slots")
    } finally {
      q2.stop()
      prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("transformWithState sessionization under drip-feed: four time " +
      "slices with watermark advances between still equal batch q16") {
    // unlike the single-batch test, each wave advances the watermark and
    // fires close timers for sessions idled by earlier waves while LIVE
    // sessions must delete + re-register their timers — the timer-churn
    // path a one-shot load never exercises
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val srcDir = Files.createTempDirectory("graft-tws-drip").toString
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
      .map(c => lit(c).cast("timestamp"))
    val slices = Seq(
      ev.filter(col("ts") < cuts(0)),
      ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
      ev.filter(col("ts") >= cuts(1) && col("ts") < cuts(2)),
      ev.filter(col("ts") >= cuts(2)))
    slices.head.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val q = EventStreams.sessionizeTws(
      EventStreams.readEventStream(spark, srcDir)
        .as[EventStreams.Event])
      .writeStream.format("memory").queryName("tws_drip_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      slices.tail.foreach { s =>
        s.coalesce(1).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
      import java.sql.Timestamp
      val far = new Timestamp(4102444800000L) // 2100-01-01
      val users = ev.select("user_id").distinct().as[Long].collect()
      users.map(u => (4000000L + u, far, u, "flush", 0.0)).toSeq
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()

      val streamed = spark.table("tws_drip_out")
        .filter(col("session_start") < lit("2090-01-01").cast("timestamp"))
        .select("user_id", "session_start", "session_end", "n_events")
      val batch = graft.queries.Core.q16Sessionize(spark, sf)
        .select("user_id", "session_start", "session_end", "n_events")
      assert(streamed.exceptAll(batch).isEmpty,
        "drip-feed emitted a session batch q16 does not have " +
          "(double-close from a stale timer?)")
      assert(batch.exceptAll(streamed).isEmpty,
        "drip-feed missed a session batch q16 has " +
          "(timer lost across a wave?)")
    } finally {
      q.stop()
      prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("transformWithState sessionization restarts exactly-once: " +
      "RocksDB state carries open sessions across the gap") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val srcDir = Files.createTempDirectory("graft-tws-ckpt-src").toString
    val ckpt = Files.createTempDirectory("graft-tws-ckpt").toString
    val outDir = Files.createTempDirectory("graft-tws-out").toString
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // split by TIME, not id: everything in the second file is newer than
    // the run-1 watermark, so nothing is dropped as late and sessions
    // STRADDLING the cutoff must be merged from restored RocksDB state
    val cutoff = lit("2024-01-15").cast("timestamp")
    ev.filter(col("ts") < cutoff).coalesce(1)
      .write.mode("overwrite").parquet(srcDir)

    // parquet sink: its _spark_metadata commit log is the exactly-once
    // guarantee being tested — emitted sessions survive the restart,
    // redelivered micro-batches overwrite idempotently
    def start() = EventStreams.sessionizeTws(
      EventStreams.readEventStream(spark, srcDir)
        .as[EventStreams.Event])
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    try {
      val q1 = start()
      q1.processAllAvailable(); q1.stop()
      // rest of the corpus + the far-future flush arrive while down
      import java.sql.Timestamp
      val far = new Timestamp(4102444800000L) // 2100-01-01
      val users = ev.select("user_id").distinct().as[Long].collect()
      ev.filter(col("ts") >= cutoff)
        .union(users.map(u => (3000000L + u, far, u, "flush", 0.0)).toSeq
          .toDF("event_id", "ts", "user_id", "event_type", "value"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()

      val streamed = spark.read.parquet(outDir)
        .filter(col("session_start") < lit("2090-01-01").cast("timestamp"))
        .select("user_id", "session_start", "session_end", "n_events")
      val batch = graft.queries.Core.q16Sessionize(spark, sf)
        .select("user_id", "session_start", "session_end", "n_events")
      assert(streamed.exceptAll(batch).isEmpty,
        "restart duplicated or fabricated a session")
      assert(batch.exceptAll(streamed).isEmpty,
        "restart lost a session (cutoff-straddling state not restored?)")
    } finally {
      prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("streaming drift monitor: maintained CUSUM equals batch q146 per wave") {
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    def wave(r: Int) = ev.filter(col("event_id") % 3 === r)
    val dropsDir = Files.createTempDirectory("graft-drift").toString
    val ckpt = Files.createTempDirectory("graft-drift-ck").toString
    wave(0).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    wave(1).coalesce(1).write.mode("append").parquet(dropsDir)

    @volatile var latest: Array[(String, java.sql.Timestamp, Long, Long, Long)] =
      Array.empty
    val waves = scala.collection.mutable.ArrayBuffer[Long]()
    val empty = Seq.empty[(String, java.sql.Timestamp, Long)]
      .toDF("event_type", "day", "n")
    val q = EventStreams.maintainDriftMonitor(
      EventStreams.readEventStream(spark, dropsDir)
        .select("event_id", "ts", "user_id", "event_type", "value"),
      empty, ckpt) { (peaks, id) =>
      this.synchronized {
        latest = peaks.collect().map(r => (r.getString(0), r.getTimestamp(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
        waves += id
      }
    }
    def batchOver(rs: Int*): Set[(String, java.sql.Timestamp, Long, Long, Long)] =
      graft.queries.Advanced.changePointFromDaily(
        ev.filter(col("event_id") % 3 <= rs.max)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n")))
        .collect().map(r => (r.getString(0), r.getTimestamp(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    try {
      q.processAllAvailable()
      assert(latest.toSet === batchOver(0, 1),
        "maintained detector diverges from batch q146 after waves 1+2")
      wave(2).coalesce(1).write.mode("append").parquet(dropsDir)
      q.processAllAvailable()
      assert(latest.toSet === batchOver(0, 1, 2),
        "maintained detector diverges from batch q146 after wave 3")
      assert(waves.size >= 2, s"expected >=2 micro-batches, got $waves")
    } finally q.stop()
  }

  test("drift monitor replay guard: redelivered micro-batch is not double-counted") {
    // foreachBatch is at-least-once: if the state store commits but the
    // offset log doesn't, the SAME micro-batch is redelivered on restart.
    // Simulate exactly that: snapshot the checkpoint after batch 0, let
    // batch 1 land, then restart from the STALE snapshot with a daily
    // relation that already contains batch 1 — the engine re-delivers
    // wave 1 as batchId 1 and the guard must skip the merge.
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    def wave(r: Int) = ev.filter(col("event_id") % 3 === r)
    def dailyOver(upTo: Int) = ev.filter(col("event_id") % 3 <= upTo)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val dropsDir = Files.createTempDirectory("graft-replay").toString
    val ckpt = Files.createTempDirectory("graft-replay-ck").toString
    wave(0).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    @volatile var latest: Array[(String, java.sql.Timestamp, Long, Long, Long)] =
      Array.empty
    def start(initial: org.apache.spark.sql.DataFrame, ck: String,
        lastId: Long) =
      EventStreams.maintainDriftMonitor(
        EventStreams.readEventStream(spark, dropsDir)
          .select("event_id", "ts", "user_id", "event_type", "value"),
        initial, ck, lastId) { (peaks, _) =>
        this.synchronized {
          latest = peaks.collect().map(r => (r.getString(0), r.getTimestamp(1),
            r.getLong(2), r.getLong(3), r.getLong(4)))
        }
      }
    val empty = Seq.empty[(String, java.sql.Timestamp, Long)]
      .toDF("event_type", "day", "n")
    val q1 = start(empty, ckpt, -1L)
    try q1.processAllAvailable() finally q1.stop()
    // snapshot the checkpoint: it has committed ONLY batch 0 (wave 0)
    val stale = Files.createTempDirectory("graft-replay-stale").toString
    val src = java.nio.file.Paths.get(ckpt)
    java.nio.file.Files.walk(src).forEach { p =>
      val dst = java.nio.file.Paths.get(stale).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // wave 1 lands and (in the simulated failed run) was merged into the
    // persisted daily relation as batchId 1 — but the offset log in the
    // stale snapshot never learned of it
    wave(1).coalesce(1).write.mode("append").parquet(dropsDir)
    val expected = graft.queries.Advanced
      .changePointFromDaily(dailyOver(1))
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // restart from the stale checkpoint: wave 1 is REDELIVERED as batch 1
    val q2 = start(dailyOver(1), stale, 1L)
    try q2.processAllAvailable() finally q2.stop()
    assert(latest.toSet === expected,
      "replayed micro-batch was double-counted into the daily relation")
  }

  test("streaming manifest maintenance: per-wave manifest equals batch q166 rebuild; restart re-seeds") {
    import graft.ext.Layout
    import graft.streaming.DocStreams
    // seed corpus = doc_id%4==0; three waves from the other residues.
    // Only the shards a drop touches re-hash; the assembled manifest
    // (incl. the ROOT hash) must still equal a from-scratch q166 over
    // everything ingested so far.
    val docs = Tables.documents(spark, sf).localCheckpoint(eager = false)
    def slice(r: Int) = docs.filter(col("doc_id") % 4 === r)
    def fullRebuild(upTo: Int): Set[(String, Long, Long, Long, String)] =
      Layout.manifestAssemble(Layout.manifestShardsOf(
          Layout.manifestFingerprints(docs.filter(col("doc_id") % 4 <= upTo))))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
    val dropsDir = Files.createTempDirectory("graft-man-drops").toString
    val ckpt = Files.createTempDirectory("graft-man-ckpt").toString
    slice(1).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    @volatile var latest = Array.empty[(String, Long, Long, Long, String)]
    val batchIds = scala.collection.mutable.Set.empty[Long]
    def start(seed: org.apache.spark.sql.DataFrame) =
      DocStreams.maintainManifest(
        DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
        Layout.manifestFingerprints(seed), ckpt) { (m, id) =>
        this.synchronized {
          latest = m.collect().map(r => (r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getString(4)))
          batchIds += id
        }
      }
    val q1 = start(slice(0))
    try q1.processAllAvailable() finally q1.stop()
    assert(latest.toSet === fullRebuild(2),
      "maintained manifest diverges from batch rebuild after waves 1+2")
    // wave 3 lands while the maintainer is DOWN; the restart re-seeds
    // the fingerprint carry from the ingested corpus and must catch up
    slice(3).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start(docs.filter(col("doc_id") % 4 <= 2))
    try q2.processAllAvailable() finally q2.stop()
    assert(batchIds.size >= 3, s"expected >=3 micro-batches, got $batchIds")
    assert(latest.toSet === fullRebuild(3),
      "post-restart manifest diverges from batch rebuild")
    assert(latest.count(_._1 == "root") === 1 && latest.length > 2,
      "fixture must produce a multi-shard manifest")
  }

  test("streaming CDC-chunk index: per-wave report equals batch q186 rebuild; restart re-seeds") {
    import graft.ext.Text
    import graft.streaming.DocStreams
    // seed corpus = doc_id%4==0; three waves from the other residues —
    // CDC boundaries are per-doc, so each drop chunks independently and
    // the served passage-dup report must equal a from-scratch q186 over
    // everything ingested so far
    val docs = Tables.documents(spark, sf).localCheckpoint(eager = false)
    def slice(r: Int) = docs.filter(col("doc_id") % 4 === r)
    def fullRebuild(upTo: Int): Set[(String, Long, Long, Long)] =
      Text.cdcReportOf(Text.chunkRelationOf(
          docs.filter(col("doc_id") % 4 <= upTo)))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    val dropsDir = Files.createTempDirectory("graft-cdc-drops").toString
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    slice(1).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    @volatile var latest = Array.empty[(String, Long, Long, Long)]
    val batchIds = scala.collection.mutable.Set.empty[Long]
    def start(seed: org.apache.spark.sql.DataFrame) =
      DocStreams.maintainChunkIndex(
        DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
        Text.chunkRelationOf(seed), ckpt) { (m, id) =>
        this.synchronized {
          latest = m.collect().map(r => (r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3)))
          batchIds += id
        }
      }
    val q1 = start(slice(0))
    try q1.processAllAvailable() finally q1.stop()
    assert(latest.toSet === fullRebuild(2),
      "maintained chunk report diverges from batch rebuild after waves 1+2")
    // wave 3 lands while the maintainer is DOWN; the restart re-seeds
    // the chunk carry from the ingested corpus and must catch up
    slice(3).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start(docs.filter(col("doc_id") % 4 <= 2))
    try q2.processAllAvailable() finally q2.stop()
    assert(batchIds.size >= 3, s"expected >=3 micro-batches, got $batchIds")
    assert(latest.toSet === fullRebuild(3),
      "post-restart chunk report diverges from batch rebuild")
    // the maintained state must actually be finding cross-doc passages
    assert(latest.map(_._3).sum > 0, "no duplicate passages in the stream")
  }

  test("a chunk-carry checkpoint restarts across Spark's default and the local checkpoint manager") {
    import graft.ext.Text
    import graft.streaming.{DocStreams, LocalCheckpointFiles}
    val key = LocalCheckpointFiles.ConfKey
    val sparkDefault = classOf[org.apache.spark.sql.execution.streaming
      .checkpointing.FileContextBasedCheckpointFileManager].getName
    val docs = Tables.documents(spark, sf).localCheckpoint(eager = false)
    def slice(r: Int) = docs.filter(col("doc_id") % 4 === r)
    def report(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // waves 1+2 under `first`; wave 3 lands while the carry is down; the
    // restart runs under `second` (None: the start helper's choice)
    def run(first: Option[String], second: Option[String]) = {
      def use(m: Option[String]): Unit =
        m.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val dropsDir = Files.createTempDirectory("graft-cdcm-drops").toString
      val ckpt = Files.createTempDirectory("graft-cdcm-ckpt").toString
      slice(1).coalesce(1).write.mode("overwrite").parquet(dropsDir)
      slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
      val waves = scala.collection.mutable.ArrayBuffer.empty[
        (Long, Set[(String, Long, Long, Long)])]
      def start(seed: org.apache.spark.sql.DataFrame) =
        DocStreams.maintainChunkIndex(
          DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
          Text.chunkRelationOf(seed), ckpt) { (m, id) =>
          this.synchronized { waves += ((id, report(m))) }
        }
      use(first)
      val q1 = start(slice(0))
      try q1.processAllAvailable() finally q1.stop()
      assert(spark.conf.get(key) ===
        first.getOrElse(classOf[LocalCheckpointFiles].getName))
      slice(3).coalesce(1).write.mode("append").parquet(dropsDir)
      use(second)
      val q2 = start(docs.filter(col("doc_id") % 4 <= 2))
      try q2.processAllAvailable() finally q2.stop()
      waves.toSeq
    }
    val saved = spark.conf.getOption(key)
    try {
      val toLocal = run(Some(sparkDefault), None)
      val toDefault = run(None, Some(sparkDefault))
      // batch ids continue across the restart: each run read the other
      // manager's offsets and commit logs rather than starting over
      assert(toLocal.map(_._1) === Seq(0L, 1L, 2L))
      assert(toLocal === toDefault)
      assert(toLocal(1)._2 === report(Text.cdcReportOf(Text.chunkRelationOf(
        docs.filter(col("doc_id") % 4 <= 2)))))
      assert(toLocal(2)._2 === report(Text.cdcReportOf(Text.chunkRelationOf(
        docs))))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("streaming quantile sketch: per-wave report equals batch q165 recompute; restart re-seeds") {
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    def wave(r: Int) = ev.filter(col("event_id") % 4 === r)
    val dropsDir = Files.createTempDirectory("graft-qsk").toString
    wave(0).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    wave(1).coalesce(1).write.mode("append").parquet(dropsDir)

    type Row6 = (Long, Long, Long, Long, Long, Long)
    @volatile var latest: Array[Row6] = Array.empty
    val batchIds = scala.collection.mutable.ArrayBuffer[Long]()
    def get6(r: org.apache.spark.sql.Row): Row6 =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    val ckpt = Files.createTempDirectory("graft-qsk-ck").toString
    def start(initCents: org.apache.spark.sql.DataFrame, initId: Long) =
      EventStreams.maintainQuantileSketch(
        EventStreams.readEventStream(spark, dropsDir)
          .select("event_id", "ts", "user_id", "event_type", "value"),
        initCents, ckpt, initId) { (report, id) =>
        this.synchronized {
          latest = report.collect().map(get6)
          batchIds += id
        }
      }
    def centsOver(rs: Int): org.apache.spark.sql.DataFrame =
      ev.filter(col("event_id") % 4 <= rs)
        .select(floor(col("value") * 100).cast("long").as("c"))
        .groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    def batchOver(rs: Int): Set[Row6] =
      graft.queries.Sketches.quantileSketchFromCents(spark, centsOver(rs))
        .collect().map(get6).toSet
    val empty = Seq.empty[(Long, Long)].toDF("c", "cnt")
    val q = start(empty, -1L)
    try {
      q.processAllAvailable()
      assert(latest.toSet === batchOver(1),
        "maintained sketch diverges from batch recompute after waves 1+2")
    } finally q.stop()
    // waves 3+4 land while the maintainer is DOWN; restart re-seeds from
    // the carried histogram (what a production run would have persisted)
    wave(2).coalesce(1).write.mode("append").parquet(dropsDir)
    wave(3).coalesce(1).write.mode("append").parquet(dropsDir)
    // same checkpoint → offsets resume; the persisted-state id guards a
    // possible redelivery of the last pre-crash micro-batch
    val q2 = start(centsOver(1), batchIds.max)
    try {
      q2.processAllAvailable()
      assert(latest.toSet === batchOver(3),
        "post-restart sketch diverges from batch recompute")
    } finally q2.stop()
    assert(batchIds.size >= 2, s"expected >=2 micro-batches, got $batchIds")
    // the report must carry real content: 5 probes, all within-flags set
    assert(latest.length === graft.queries.Sketches.QsProbes.length)
    assert(latest.forall(_._6 == 1L), s"estimate escaped its bound: " +
      latest.mkString(", "))
  }

  test("streaming robust stats: per-wave median/MAD report equals batch " +
      "q249 recompute; restart re-seeds the counts") {
    import graft.ext.Report
    val ev = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select("event_id", "ts", "user_id", "event_type", "value")
    def wave(r: Int) = ev.filter(col("event_id") % 4 === r)
    def countsOver(rs: Int) = Report.valueCounts(
      ev.filter(col("event_id") % 4 <= rs)
        .select(col("event_type"), col("value")))
    type R = (String, Long, Double, Double, Long)
    def get5(r: org.apache.spark.sql.Row): R =
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))
    def batchOver(rs: Int): Set[R] =
      Report.robustFromCounts(countsOver(rs)).collect().map(get5).toSet
    val dropsDir = Files.createTempDirectory("graft-rob-drops").toString
    val ckpt = Files.createTempDirectory("graft-rob-ckpt").toString
    wave(0).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    wave(1).coalesce(1).write.mode("append").parquet(dropsDir)
    @volatile var latest: Array[R] = Array.empty
    val batchIds = scala.collection.mutable.ArrayBuffer[Long]()
    def start(init: org.apache.spark.sql.DataFrame, initId: Long) =
      EventStreams.maintainRobustStats(
        EventStreams.readEventStream(spark, dropsDir)
          .select("event_id", "ts", "user_id", "event_type", "value"),
        init, ckpt, initId) { (report, id) =>
        this.synchronized {
          latest = report.collect().map(get5)
          batchIds += id
        }
      }
    val empty = Seq.empty[(String, Double, Long)]
      .toDF("event_type", "value", "c")
    val q1 = start(empty, -1L)
    try {
      q1.processAllAvailable()
      assert(latest.toSet === batchOver(1),
        "maintained stats diverge from batch recompute after waves 1+2")
    } finally q1.stop()
    // waves 3+4 land while the maintainer is DOWN; restart re-seeds from
    // the persisted counts + last applied id
    wave(2).coalesce(1).write.mode("append").parquet(dropsDir)
    wave(3).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start(countsOver(1), batchIds.max)
    try {
      q2.processAllAvailable()
      assert(latest.toSet === batchOver(3),
        "post-restart stats diverge from batch recompute")
    } finally q2.stop()
    assert(latest.nonEmpty && latest.forall(_._4 > 0),
      "degenerate MAD in the maintained report")
  }

  test("streaming frame index: per-wave report equals batch q226 rebuild; restart re-seeds") {
    import graft.ext.Multimodal
    import graft.streaming.DocStreams
    // seed corpus = doc_id%4==0; three waves from the other residues.
    // Each drop decodes ONLY its own videos through the real AVI codec;
    // the served cross-video pair report must equal a from-scratch q226
    // over everything ingested so far
    val docs = Tables.documents(spark, sf).localCheckpoint(eager = false)
    def slice(r: Int) = docs.filter(col("doc_id") % 4 === r)
    type Pair = (Long, Long, Long, Long, Long)
    def get5(r: org.apache.spark.sql.Row): Pair =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    def fullRebuild(upTo: Int): Set[Pair] =
      Multimodal.frameNearDupFrom(Multimodal.videoFrameHashesOf(
          docs.filter(col("doc_id") % 4 <= upTo)))
        .collect().map(get5).toSet
    val dropsDir = Files.createTempDirectory("graft-frame-drops").toString
    val ckpt = Files.createTempDirectory("graft-frame-ckpt").toString
    slice(1).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    @volatile var latest = Array.empty[Pair]
    val batchIds = scala.collection.mutable.Set.empty[Long]
    def start(seed: org.apache.spark.sql.DataFrame) =
      DocStreams.maintainFrameIndex(
        DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
        Multimodal.videoFrameHashesOf(seed), ckpt) { (m, id) =>
        this.synchronized {
          latest = m.collect().map(get5)
          batchIds += id
        }
      }
    val q1 = start(slice(0))
    try q1.processAllAvailable() finally q1.stop()
    assert(latest.toSet === fullRebuild(2),
      "maintained frame report diverges from batch rebuild after waves 1+2")
    // wave 3 lands while the maintainer is DOWN; the restart re-seeds
    // the hash carry from the ingested corpus and must catch up
    slice(3).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start(docs.filter(col("doc_id") % 4 <= 2))
    try q2.processAllAvailable() finally q2.stop()
    assert(batchIds.size >= 3, s"expected >=3 micro-batches, got $batchIds")
    assert(latest.toSet === fullRebuild(3),
      "post-restart frame report diverges from batch rebuild")
    // the maintained state must actually be finding cross-video pairs
    assert(latest.exists(p => p._1 != p._3),
      "no cross-video near-dup frames in the stream")
  }

  test("streaming snapshot ingest: exactly-once across restart, " +
      "redelivered batches are no-ops, per-drop time travel") {
    import graft.io.SnapTable
    import graft.streaming.DocStreams
    val docs = Tables.documents(spark, sf).localCheckpoint(eager = false)
    def slice(r: Int) = docs.filter(col("doc_id") % 3 === r)
    val dropsDir = Files.createTempDirectory("graft-snap-drops").toString
    val ckpt = Files.createTempDirectory("graft-snap-ckpt").toString
    val table = Files.createTempDirectory("graft-snap-table").toString
    val commits = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    def start() = DocStreams.maintainSnapshotIngest(
      DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
      table, ckpt) { (id, committed) =>
      this.synchronized { commits += ((id, committed)) }
    }
    slice(0).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(SnapTable.read(spark, table).count() === slice(0).count())
    // two more drops land while the stream is DOWN; the restart resumes
    // from the checkpoint and ingests both
    slice(1).coalesce(1).write.mode("append").parquet(dropsDir)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ingested = SnapTable.read(spark, table).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ingested === docs.collect().map(_.getLong(0)).sorted.toSeq,
      "table diverges from the union of all drops")
    assert(ingested.distinct === ingested, "duplicate rows — not exactly-once")
    // a redelivery of an already-committed batch id must be a no-op
    val v = SnapTable.currentVersion(spark, table)
    assert(!SnapTable.appendOnce(slice(0).limit(5), table, 0L))
    assert(SnapTable.currentVersion(spark, table) === v)
    // every live commit reported true
    assert(commits.nonEmpty && commits.forall(_._2),
      s"unexpected skipped commits in $commits")
    // per-drop time travel: v1 is exactly the first drop
    assert(SnapTable.read(spark, table, Some(1)).count() === slice(0).count())
  }

  test("streaming observed metrics: per-micro-batch ingest audit rides " +
      "the stream's own tasks (observe + progress.observedMetrics)") {
    import graft.streaming.DocStreams
    val docs = Tables.documents(spark, sf)
      .filter(col("n_chars").isNotNull).limit(200).localCheckpoint()
    val dropsDir = Files.createTempDirectory("graft-obs-drops").toString
    val ckpt = Files.createTempDirectory("graft-obs-ckpt").toString
    // two drops → maxFilesPerTrigger=1 forces ≥2 micro-batches
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dropsDir)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dropsDir)
    val obsDf = graft.ops.Telemetry.observedStream(
      DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
      "ingest",
      "n_in" -> count(lit(1)),
      "n_short" -> sum((col("n_chars") < 100).cast("long")))
    val q = obsDf.writeStream
      .option("checkpointLocation", ckpt)
      .format("noop").start()
    try q.processAllAvailable() finally q.stop()
    // per-micro-batch metrics surface on the progress events; their sum
    // must reconcile exactly with the corpus — no second scan ran
    val per = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("ingest")))
    assert(per.size >= 2, s"expected ≥2 observed micro-batches, got $per")
    assert(per.map(_.getLong(0)).sum === docs.count())
    assert(per.map(_.getLong(1)).sum ===
      docs.filter(col("n_chars") < 100).count())
  }

  test("streaming IVM over snapshot ingest: per-wave maintained view " +
      "equals a full rescan; restart re-seeds; redelivery no-ops") {
    import graft.io.SnapTable
    import graft.streaming.DocStreams
    val docs = Tables.documents(spark, sf)
      .filter(col("n_chars").isNotNull).localCheckpoint(eager = false)
    def slice(i: Int) = docs.filter(col("doc_id") % 3 === i)
    val dropsDir = Files.createTempDirectory("graft-ivm-drops").toString
    val ckpt = Files.createTempDirectory("graft-ivm-ckpt").toString
    val table = Files.createTempDirectory("graft-ivm-table").toString
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, Map[String, (Long, Long)])]
    def start() = DocStreams.maintainSnapshotIngestIvm(
      DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
      table, ckpt) { (id, c, st) =>
      this.synchronized { reports += ((id, c, st)) }
    }
    def rescan(): Map[String, (Long, Long)] =
      SnapTable.read(spark, table).groupBy(col("source"))
        .agg(count(lit(1)), sum(col("n_chars"))).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    slice(0).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    slice(1).coalesce(1).write.mode("append").parquet(dropsDir)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(reports.size >= 2 && reports.forall(_._2),
      s"expected >=2 committed waves: $reports")
    // the LAST maintained state must equal a full rescan of the table
    assert(reports.last._3 === rescan(), "maintained view diverged")
    // a delete commits OUT-OF-BAND (maintenance, not a stream batch) —
    // the next wave's fold must pick its file-delta up too
    SnapTable.deleteWhere(spark, table, col("doc_id") % 9 === 0)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start() // restart: re-seeds from v1 then folds the rest
    try q2.processAllAvailable() finally q2.stop()
    assert(reports.last._3 === rescan(),
      "restarted view diverged after out-of-band delete + new drop")
    // redelivered batch (fresh checkpoint, same drops): commits no-op
    // but the report still carries the correct current state
    val ckpt2 = Files.createTempDirectory("graft-ivm-ckpt2").toString
    val before = SnapTable.currentVersion(spark, table)
    val q3 = DocStreams.maintainSnapshotIngestIvm(
      DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
      table, ckpt2) { (id, c, st) =>
      this.synchronized { reports += ((id, c, st)) }
    }
    try q3.processAllAvailable() finally q3.stop()
    assert(SnapTable.currentVersion(spark, table) === before,
      "redelivery committed — not exactly-once")
    assert(reports.last._2 === false && reports.last._3 === rescan())
    // VACUUM retires old manifests/files between restarts: the re-seed
    // must fall back to the oldest RETAINED manifest as a whole-table
    // add instead of dying on the vacuumed v1
    SnapTable.vacuum(spark, table, retain = 2)
    docs.filter(col("doc_id") % 9 === 4).limit(20).coalesce(1)
      .write.mode("append").parquet(dropsDir)
    val q4 = start()
    try q4.processAllAvailable() finally q4.stop()
    assert(reports.last._3 === rescan(),
      "restarted view diverged after vacuum retired the fold base")
    // a MERGE-ON-READ delete commits out-of-band: the DV-aware fold
    // (round 14) must account its sidecar as a negative delta — this
    // exact window was a hard refusal (OPTIMIZE-then-reseed) before
    SnapTable.deleteWhereMor(spark, table, col("doc_id") % 9 === 1)
    docs.filter(col("doc_id") % 9 === 5).limit(20).coalesce(1)
      .write.mode("append").parquet(dropsDir)
    val q5 = start()
    try q5.processAllAvailable() finally q5.stop()
    assert(reports.last._3 === rescan(),
      "view diverged after an out-of-band MoR delete (DV fold)")
  }

  test("streaming CDC feed over snapshot ingest: per-wave events equal " +
      "read-level diffs, out-of-band MoR deletes surface as deletes, " +
      "restart resumes from the fed version, redelivery emits nothing") {
    import graft.io.SnapTable
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.CdcEvent
    val docs = Tables.documents(spark, sf)
      .filter(col("n_chars").isNotNull).localCheckpoint(eager = false)
    def slice(i: Int) = docs.filter(col("doc_id") % 3 === i)
    val dropsDir = Files.createTempDirectory("graft-cdcf-drops").toString
    val ckpt = Files.createTempDirectory("graft-cdcf-ckpt").toString
    val table = Files.createTempDirectory("graft-cdcf-table").toString
    val cols = Seq("text", "lang", "source", "n_chars")
    val feed = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, Seq[CdcEvent])]
    def start(fromV: Int, ck: String) = DocStreams.maintainSnapshotCdcFeed(
      DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
      table, ck, "doc_id", cols, fromV) { (id, c, ev) =>
      this.synchronized { feed += ((id, c, ev)) }
    }
    slice(0).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    slice(1).coalesce(1).write.mode("append").parquet(dropsDir)
    val q1 = start(0, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    // two committed waves, each feeding exactly its own insert-only
    // transition with the drop's row count
    assert(feed.size >= 2 && feed.forall(_._2), s"waves: $feed")
    val evs1 = feed.flatMap(_._3)
    assert(evs1.map(_.nInserted).sum === slice(0).count() + slice(1).count())
    assert(evs1.forall(e => e.nDeleted == 0 && e.nUpdated == 0),
      s"append-only waves fed non-insert events: $evs1")
    val fed1 = SnapTable.currentVersion(spark, table)

    // OUT-OF-BAND maintenance between batches: a MoR delete lands
    // while the stream is down; the restarted feed (resuming from the
    // last fed version) must surface it as deletes alongside the next
    // drop's inserts — without re-emitting the already-fed history
    val delPred = col("doc_id") % 9 === 0
    val nDel = SnapTable.read(spark, table).filter(delPred).count()
    SnapTable.deleteWhereMor(spark, table, delPred)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    feed.clear()
    // restart with NO explicit cursor (fromVersion = 0): the feed's
    // checkpoint-persisted cursor must resume from fed1 on its own —
    // VERDICT r14 #5 (a hand-carried fromVersion used to be required,
    // else the restart re-fed history or hit the vacuum refusal).
    // A crash mid-cursor-write leaves a truncated .tmp beside the
    // durable cursor files — the restart must ignore it, not die
    // parsing an empty file
    java.nio.file.Files.write(java.nio.file.Paths.get(ckpt,
      s"graft_cdc_cursor.v${fed1 + 7}.tmp"), Array.empty[Byte])
    val q2 = start(0, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val evs2 = feed.flatMap(_._3)
    assert(evs2.map(_.nDeleted).sum === nDel,
      s"the out-of-band MoR delete did not feed as deletes: $evs2")
    assert(evs2.map(_.nInserted).sum === slice(2).count())
    assert(evs2.map(_.fromV).min === fed1,
      s"the feed re-emitted already-fed history: $evs2")

    // redelivery (fresh checkpoint, same drops): commits no-op AND the
    // feed emits nothing — the version cursor never advances
    val fed2 = SnapTable.currentVersion(spark, table)
    feed.clear()
    val ckpt2 = Files.createTempDirectory("graft-cdcf-ckpt2").toString
    val q3 = start(fed2, ckpt2)
    try q3.processAllAvailable() finally q3.stop()
    assert(feed.nonEmpty && feed.forall(r => !r._2 && r._3.isEmpty),
      s"a redelivered wave re-fed events: $feed")

    // METADATA-ONLY out-of-band commits (renames) in the window must
    // feed nothing for their transitions — not kill the stream on an
    // empty-changes window. The rename is undone before the next drop:
    // the upstream keeps producing 'lang', and the write-side shadow
    // guard (correctly) refuses a batch speaking a mapped-away
    // physical name — a real deployment updates the producer after a
    // rename, this test re-renames instead
    SnapTable.renameColumn(spark, table, "lang", "language")
    SnapTable.renameColumn(spark, table, "language", "lang")
    docs.filter(col("doc_id") % 9 === 2).limit(10).coalesce(1)
      .write.mode("append").parquet(dropsDir)
    feed.clear()
    val q4 = start(fed2, ckpt)
    try q4.processAllAvailable() finally q4.stop()
    val evs4 = feed.flatMap(_._3)
    assert(evs4.map(_.nInserted).sum === 10 &&
      evs4.forall(e => e.nDeleted == 0 && e.nUpdated == 0),
      s"a rename transition leaked CDC events: $evs4")

    // VACUUM-retired transitions are unreconstructible: a feed whose
    // cursor reaches behind the retention horizon refuses loudly with
    // the re-bootstrap remedy (never silently skips the hole)
    SnapTable.vacuum(spark, table, retain = 1)
    docs.filter(col("doc_id") % 9 === 7).limit(5).coalesce(1)
      .write.mode("append").parquet(dropsDir)
    val ckpt3 = Files.createTempDirectory("graft-cdcf-ckpt3").toString
    val q5 = start(fed2, ckpt3) // cursor far behind the horizon
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q5.processAllAvailable() finally q5.stop()
    }
    val msgs = Iterator.iterate(died: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("re-bootstrap"),
      s"the feed did not refuse the vacuumed window loudly: $msgs")
  }

  test("streaming snapshot REPLICA: row-level CDC applies transition-" +
      "by-transition, the replica equals the source after every wave " +
      "(incl. an out-of-band MoR delete), and a restart needs no " +
      "cursor and re-applies nothing") {
    import graft.io.SnapTable
    import graft.streaming.DocStreams
    val docs = Tables.documents(spark, sf)
      .filter(col("n_chars").isNotNull).localCheckpoint(eager = false)
    def slice(i: Int) = docs.filter(col("doc_id") % 3 === i)
    val dropsDir = Files.createTempDirectory("graft-repl-drops").toString
    val ckpt = Files.createTempDirectory("graft-repl-ckpt").toString
    val src = Files.createTempDirectory("graft-repl-src").toString
    val rep = Files.createTempDirectory("graft-repl-rep").toString
    val cols = Seq("text", "lang", "source", "n_chars")
    val applied = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, Int)]
    def start(ck: String) = DocStreams.maintainSnapshotReplica(
      DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
      src, rep, ck, "doc_id", cols) { (id, c, v) =>
      this.synchronized { applied += ((id, c, v)) }
    }
    def snap(dir: String): Set[(Long, String, Long)] =
      SnapTable.read(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    slice(0).coalesce(1).write.mode("overwrite").parquet(dropsDir)
    slice(1).coalesce(1).write.mode("append").parquet(dropsDir)
    val q1 = start(ckpt)
    try q1.processAllAvailable() finally q1.stop()
    assert(snap(rep) === snap(src), "replica diverged after ingest waves")
    assert(SnapTable.lastAppliedCdcVersion(spark, rep) ===
      SnapTable.currentVersion(spark, src),
      "the replica's stamp must track the source version")
    // OUT-OF-BAND MoR delete on the SOURCE while the stream is down:
    // the next wave must apply it to the replica as row-level deletes
    SnapTable.deleteWhereMor(spark, src, col("doc_id") % 9 === 0)
    slice(2).coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start(ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(snap(rep) === snap(src),
      "replica diverged after the out-of-band MoR delete")
    // restart + full redelivery (fresh checkpoint): the source commits
    // no-op on the batch stamp, and the replica's OWN cdc_v stamp
    // re-applies nothing — exactly-once end to end, no carried cursor
    val repV = SnapTable.currentVersion(spark, rep)
    val ckpt2 = Files.createTempDirectory("graft-repl-ckpt2").toString
    val q3 = start(ckpt2)
    try q3.processAllAvailable() finally q3.stop()
    assert(SnapTable.currentVersion(spark, rep) === repV,
      "a redelivered wave re-applied transitions to the replica")
    assert(snap(rep) === snap(src))
  }

  test("audited streaming ingest: failing drops discard invisibly, " +
      "passing drops publish exactly-once, restart redelivery no-ops") {
    import graft.io.SnapTable
    import graft.streaming.DocStreams
    val docs = Tables.documents(spark, sf)
      .filter(col("n_chars").isNotNull).localCheckpoint(eager = false)
    // drop 0 (seed, via create) and drop 1 pass the length-floor audit;
    // drop 2 is ALL short docs — it must fail and never become visible
    val pass1 = docs.filter(col("doc_id") % 2 === 1 && col("n_chars") >= 100)
    val fail2 = docs.filter(col("n_chars") < 100)
    val pass3 = docs.filter(col("doc_id") % 2 === 0 && col("n_chars") >= 100)
    val dropsDir = Files.createTempDirectory("graft-wap-drops").toString
    val ckpt = Files.createTempDirectory("graft-wap-ckpt").toString
    val table = Files.createTempDirectory("graft-wap-table").toString
    SnapTable.create(pass1, table) // seed corpus (already audited)
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    def start() = DocStreams.maintainAuditedIngest(
      DocStreams.readDocStream(spark, dropsDir, maxFilesPerTrigger = 1),
      table, ckpt) { staged =>
      staged.agg(min(col("n_chars"))).head().getLong(0) >= 100L
    } { (id, published) =>
      this.synchronized { results += ((id, published)) }
    }
    fail2.coalesce(1).write.mode("overwrite").parquet(dropsDir)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val afterReject = SnapTable.read(spark, table).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(afterReject === pass1.collect().map(_.getLong(0)).sorted.toSeq,
      "table must still hold exactly the seed — rejected rows leaked")
    // the rejected drop is invisible in EVERY version, not just current
    (1 to SnapTable.currentVersion(spark, table)).foreach { v =>
      assert(SnapTable.read(spark, table, Some(v))
        .filter(col("n_chars") < 100).count() === 0L,
        s"rejected rows visible at v$v")
    }
    assert(results.toSeq.map(_._2) === Seq(false),
      s"expected one rejection — got $results")
    // drop 3 lands while the stream is DOWN; restart publishes it once
    pass3.coalesce(1).write.mode("append").parquet(dropsDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val finalIds = SnapTable.read(spark, table).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(finalIds === (pass1.collect().map(_.getLong(0)) ++
      pass3.collect().map(_.getLong(0))).sorted.toSeq)
    assert(finalIds.distinct === finalIds,
      "duplicate rows — audited ingest not exactly-once")
    // a 0-ROW drop must pass through (nothing to audit, empty publish
    // stamps the ledger) — not kill the stream on readStaged's
    // no-schema failure
    docs.filter(lit(false)).coalesce(1).write.mode("append").parquet(dropsDir)
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(q3.exception.isEmpty,
      s"empty drop killed the stream: ${q3.exception}")
    assert(SnapTable.read(spark, table).count() === finalIds.size.toLong,
      "an empty drop changed the table")
    assert(results.toSeq.last._2 === true,
      s"empty drop should report published=true — got $results")
  }

  test("graftsnap STREAMING SOURCE: bootstrap snapshot then per-append " +
      "micro-batches, exactly-once across restart, non-append refusal, " +
      "skipChangeCommits resumes past the change") {
    import graft.io.SnapTable
    val d = Files.createTempDirectory("graft-snapstream-t").toString + "/t"
    val ck = Files.createTempDirectory("graft-snapstream-ck").toString
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"v$i")).toDF("id", "s")
    SnapTable.create(batch(0, 10), d)
    SnapTable.append(batch(10, 15), d)
    // batchId-keyed accumulation: a restart's redelivery of the last
    // uncommitted batch overwrites its own slot (idempotent), so the
    // flattened view IS the exactly-once contract under test
    val seen = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    def start(skip: Boolean = false) = {
      val r = spark.readStream.format("graftsnap")
      (if (skip) r.option("skipChangeCommits", "true") else r).load(d)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = b.collect().map(_.getLong(0)).toSeq
          this.synchronized { seen(id) = rows }
        }.start()
    }
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(seen.values.flatten.toSeq.sorted === (0L until 15L),
      s"bootstrap batch must serve the full current snapshot: $seen")
    // appends while the stream is down: the restarted stream serves
    // ONLY them (versions as offsets), no re-serve of the bootstrap
    SnapTable.append(batch(15, 20), d)
    SnapTable.append(batch(20, 25), d)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val all2 = seen.values.flatten.toSeq
    assert(all2.sorted === (0L until 25L),
      s"restart lost or duplicated rows: ${all2.sorted}")
    // a non-append commit (CoW delete) mid-stream refuses loudly
    SnapTable.deleteWhere(spark, d, col("id") === 3L)
    SnapTable.append(batch(25, 30), d)
    val q3 = start()
    val died = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      try q3.processAllAvailable() finally q3.stop()
    }
    val msgs = Iterator.iterate(died: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("not append-only"),
      s"the stream did not refuse the delete transition: $msgs")
    // skipChangeCommits: same checkpoint, the delete transition skips
    // wholesale and the append behind it flows — id 3 stays in the
    // stream's served history (the skip contract: changes are hidden,
    // never retracted)
    val q4 = start(skip = true)
    try q4.processAllAvailable() finally q4.stop()
    assert(seen.values.flatten.toSeq.sorted === (0L until 30L),
      s"skipChangeCommits lost the post-delete append: $seen")
    // VACUUM retires the stream's recovery window (the checkpointed
    // offset now points below the retained horizon): the restart must
    // refuse with the re-bootstrap remedy, not a raw require failure
    SnapTable.append(batch(30, 32), d)
    SnapTable.vacuum(spark, d, retain = 1)
    val q5 = start(skip = true)
    val died2 = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      try q5.processAllAvailable() finally q5.stop()
    }
    val msgs2 = Iterator.iterate(died2: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs2.contains("re-bootstrap"),
      s"the stream did not refuse the vacuumed window loudly: $msgs2")
  }

  test("graftsnap streaming source: maxVersionsPerTrigger paces a " +
      "deep catch-up into per-version batches, no loss, no dupes") {
    import graft.io.SnapTable
    val d = Files.createTempDirectory("graft-snappace-t").toString + "/t"
    val ck = Files.createTempDirectory("graft-snappace-ck").toString
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"v$i")).toDF("id", "s")
    SnapTable.create(batch(0, 5), d)
    val seen = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    def start() = spark.readStream.format("graftsnap")
      .option("maxVersionsPerTrigger", "1").load(d)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = b.collect().map(_.getLong(0)).toSeq
        this.synchronized { seen(id) = rows }
      }.start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(seen.values.flatten.toSeq.sorted === (0L until 5L))
    // a 3-version backlog lands while the stream is down; live appends
    // after restart must also pace one version per trigger
    SnapTable.append(batch(5, 10), d)
    SnapTable.append(batch(10, 15), d)
    SnapTable.append(batch(15, 20), d)
    val before = seen.size
    val q2 = start()
    try {
      q2.processAllAvailable()
      SnapTable.append(batch(20, 25), d)
      SnapTable.append(batch(25, 30), d)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(seen.values.flatten.toSeq.sorted === (0L until 30L),
      s"paced catch-up lost or duplicated rows: $seen")
    // each post-bootstrap version must arrive as its OWN batch: 5
    // appended versions → at least 5 new batches (the cap bounds every
    // window the source itself admitted at one version)
    val newBatches = seen.size - before
    assert(newBatches >= 5,
      s"expected >= 5 paced batches for 5 appended versions, got " +
        s"$newBatches: ${seen.keys.toSeq.sorted}")
    seen.toSeq.sortBy(_._1).drop(1).foreach { case (id, rows) =>
      assert(rows.size <= 5,
        s"batch $id served ${rows.size} rows — a capped window must " +
          "hold at most one version's append (5 rows)")
    }
  }

  test("segmented maintainer state: view tracks appends and compaction " +
      "fires without changing the rows") {
    // the maintainers carry state as checkpointed delta segments
    // (round 16): the view must equal the monolithic union after every
    // append, and crossing compactEvery must collapse the segment count
    // while preserving the exact row multiset
    import SparkSpec.spark.implicits._
    val st = graft.streaming.Segments(Seq(0L).toDF("id"), compactEvery = 2)
    var expected = Seq(0L)
    for (i <- 1 to 5) {
      val delta = Seq(i.toLong, i.toLong + 100).toDF("id")
      expected = expected ++ Seq(i.toLong, i.toLong + 100)
      val v = st.append(delta)
      assert(v.collect().map(_.getLong(0)).sorted === expected.sorted,
        s"view diverged after append $i")
      assert(st.width <= 3,
        s"compaction never fired: width ${st.width} after append $i")
    }
    // after 5 appends with compactEvery=2 at least one compaction ran,
    // so the state cannot still be 6 segments wide
    assert(st.width < 6)
  }

  test("segmented maintainer state: the view is one scan whose generated " +
      "code a later append reuses") {
    // the view is ONE LogicalRDD over the segments' checkpointed RDDs, not
    // a Union of N scans: its plan keeps one leaf at any width, so a
    // same-shape query after an append finds its whole-stage code in
    // Spark's codegen cache instead of compiling again
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.graft.Shim
    import graft.streaming.Segments
    val seed = Seq((0L, "s0")).toDF("id", "src")
    val st = Segments(seed)
    var parts = Vector[DataFrame](seed)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    for (i <- 1 to 5) {
      val v = st.view
      assert(v.queryExecution.analyzed.collectLeaves().size === 1,
        s"width $i: ${v.queryExecution.analyzed.treeString}")
      assert(rows(v) === rows(parts.reduce(_ unionByName _)), s"width $i")
      val delta = Seq((i.toLong, s"s$i"), (i + 100L, s"s${i % 2}"))
        .toDF("id", "src")
      parts :+= delta
      st.append(delta)
    }
    def agg() = st.view.groupBy(col("src"))
      .agg(sum(col("id")).as("t"), count(lit(1)).as("n")).collect()
    agg()
    st.append(Seq((6L, "s6")).toDF("id", "src"))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val after = agg()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles === 0,
      "a same-shape query over a wider view compiled new code")
    assert(after.map(_.getLong(2)).sum === 12L)
    // the segments must share one (name, type) list, in order
    def ck(df: DataFrame) = df.localCheckpoint()
    intercept[IllegalArgumentException](Shim.checkpointUnion(
      Seq(ck(seed), ck(Seq(("s1", 1L)).toDF("src", "id")))))
    intercept[IllegalArgumentException](Shim.checkpointUnion(
      Seq(ck(seed), ck(Seq((1, "s1")).toDF("id", "src")))))
    intercept[IllegalArgumentException](Shim.checkpointUnion(Seq(seed)))
    // a column is nullable when it is nullable in any segment
    val nullable = ck(Seq((Option(1L), "s1"), (None, "s2")).toDF("id", "src"))
    assert(!Shim.checkpointUnion(Seq(ck(seed), ck(seed))).schema("id").nullable)
    assert(Shim.checkpointUnion(Seq(ck(seed), nullable)).schema("id").nullable)
    assert(Shim.checkpointUnion(Seq(nullable, ck(seed))).schema("id").nullable)
  }
}
