package graft

import graft.ext.Text
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions.col

class TextSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("lang_id recognizes real multilingual sentences") {
    val df = Seq(
      (1L, "the cat sat on the mat and it was happy"),
      (2L, "der hund ist nicht mit der katze im haus"),
      (3L, "el perro y el gato en la casa de la abuela"),
      (4L, "le chat est dans la maison pour le dîner"),
      (5L, "这 是 一个 中文 句子 的 例子"),
      (6L, "qwerty zxcvb asdfgh")
    ).toDF("id", "text")
    val m = df.select(col("id"), lang_id(col("text")).as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) === "en")
    assert(m(2L) === "de")
    assert(m(3L) === "es")
    assert(m(4L) === "fr")
    assert(m(5L) === "zh")
    assert(m(6L) === "und")
  }

  test("token stats cover all documents") {
    val rows = Text.tokenStats(spark, sf).collect()
    val totalDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs === graft.tables.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_tokens") > 0)
      assert(r.getAs[Double]("chars_per_token") > 0)
    }
  }

  test("exact dedup keeps one doc per fingerprint") {
    val rows = Text.exactDedup(spark, sf).collect()
    assert(rows.map(_.getAs[String]("fp")).distinct.length === rows.length)
    val totalCopies = rows.map(_.getAs[Long]("n_copies")).sum
    assert(totalCopies === graft.tables.Tables.documents(spark, sf).count())
  }

  test("ngram jaccard pairs are symmetric-free and above threshold") {
    val rows = Text.ngramJaccard(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getAs[Double]("jaccard") >= 0.12)
    }
  }

  test("df-capped jaccard equals uncapped where the cap doesn't bind") {
    // at sf0.001 every shingle df is far below DfCap (max df ≈ 7)
    val docs = graft.tables.Tables.documents(spark, sf)
    val capped = Text.ngramJaccardCappedOf(docs, Text.DfCap, 0.12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Text.ngramJaccardOf(docs, 0.12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === full)
  }

  test("df-cap drops hot-shingle pairs when it binds") {
    // 4 docs share only the hot shingle "x y z" (df=4 > cap=3);
    // docs 10/11 also share a rare 5-shingle overlap that survives
    val hot = "x y z"
    val docs = (Seq(
      (10L, s"$hot a b c d e f g"),
      (11L, s"$hot a b c d e f h"),
      (12L, s"$hot p q r s t u v"),
      (13L, s"$hot j k l m n o w")
    )).toDF("doc_id", "text")
    val uncapped = Text.ngramJaccardOf(docs, 0.01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Text.ngramJaccardCappedOf(docs, 3, 0.01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every pair shares the hot shingle → 6 uncapped pairs
    assert(uncapped.size === 6)
    // capped: hot shingle removed, only the genuine 10-11 overlap remains
    assert(capped === Set((10L, 11L)))
  }

  test("decontamination covers every training doc and flags real overlap") {
    val rows = Text.decontamination(spark, sf).collect()
    val nTrain = graft.tables.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= Text.EvalSetMax)
      .count()
    assert(rows.length.toLong === nTrain, "one row per training doc")
    rows.foreach { r =>
      assert(r.getLong(0) >= Text.EvalSetMax)
      assert(r.getBoolean(2) === (r.getLong(1) >= 3),
        "flag must derive from n_shared")
    }
    // the corpus plants near-dups across the eval/train split
    assert(rows.count(_.getBoolean(2)) > 0, "expected contaminated docs")
  }

  test("sequence packing conserves tokens and respects the budget boundary") {
    import org.apache.spark.sql.functions.{col => c, size => sz, split => sp}
    val rows = Text.sequencePacking(spark, sf).collect()
    val totalPacked = rows.map(_.getLong(3)).sum
    val totalTokens = graft.tables.Tables.documents(spark, sf)
      .select(sz(sp(c("text"), " ")).cast("long")).collect().map(_.getLong(0)).sum
    assert(totalPacked === totalTokens, "every token lands in exactly one sequence")
    // per source, seq ids are dense from 0
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.head === 0L && ids.sameElements(ids.head to ids.last))
    }
  }

  test("ngram diversity: ratio in (0,1], distinct <= total") {
    val rows = Text.ngramDiversity(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2))
      val div = r.getDouble(3)
      assert(div > 0 && div <= 1.0)
      assert(div === r.getLong(1).toDouble / r.getLong(2))
    }
  }

  test("chunking covers every document exactly to its last token") {
    import org.apache.spark.sql.functions.{col => c, size => sz, split => sp}
    val nTok = graft.tables.Tables.documents(spark, sf)
      .select(c("doc_id"), sz(sp(c("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = Text.chunking(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(chunks.keySet === nTok.keySet)
    chunks.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      // dense indices from 0; stride-48 starts; last chunk ends at n_tok
      assert(sorted.map(_._2).sameElements(sorted.indices.map(_.toLong)))
      val (_, lastIdx, lastLen) = sorted.last
      assert(lastIdx * 48 + lastLen === nTok(doc),
        s"doc $doc: chunks end at ${lastIdx * 48 + lastLen}, not ${nTok(doc)}")
      assert(sorted.forall(_._3 <= 64) && sorted.forall(_._3 >= 1))
    }
  }

  test("weighted sample: inclusion recomputes from the hash threshold") {
    import org.apache.spark.sql.functions.{col => c, size => sz, split => sp}
    val toks = graft.tables.Tables.documents(spark, sf)
      .select(c("doc_id"), sz(sp(c("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val maxTok = toks.values.max
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 1000
    }
    val expected = toks.filter { case (id, n) =>
      bucket(id) < n * 1000 / maxTok
    }.keySet
    val got = Text.weightedSample(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got === expected)
    assert(got.nonEmpty && got.size < toks.size)
  }

  test("sentiment: counts consistent and mean derives from the sum") {
    val rows = Text.sentiment(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, s, mean) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(mean === s.toDouble / n)
      assert(r.getLong(4) + r.getLong(5) <= n, "pos+neg cannot exceed docs")
    }
  }

  test("collocations: top-20, min-count respected, score is n_xy*N/(n_x*n_y)") {
    val rows = Text.collocations(spark, sf).collect()
    assert(rows.length === 20)
    val scores = rows.map(_.getDouble(3))
    assert(scores.forall(_ > 0))
    assert(scores.sameElements(scores.sortBy(-_)), "sorted by score desc")
    assert(rows.forall(_.getLong(2) >= 5), "min-count filter")
  }

  test("q90: the hash-threshold prefilter is lossless vs the full-stratum window") {
    import org.apache.spark.sql.functions._
    // the naive formulation this operator exists to avoid at scale —
    // row_number over every full stratum
    val docs = graft.tables.Tables.documents(SparkSpec.spark, SparkSpec.sf)
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(1000L)).as("bk"),
        md5(col("doc_id").cast("string")).as("hk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("bk"), col("hk"), col("doc_id"))
    val full = docs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= Text.QuotaK)
      .select(col("doc_id"), col("lang"), col("rn"))
    val fast = Text.quotaSample(SparkSpec.spark, SparkSpec.sf)
    assert(fast.exceptAll(full).isEmpty && full.exceptAll(fast).isEmpty,
      "prefiltered quota sample diverged from the full-window formulation")
  }

  test("q90: exactly min(K, |stratum|) rows per stratum") {
    import org.apache.spark.sql.functions._
    val perStratum = Text.quotaSample(SparkSpec.spark, SparkSpec.sf)
      .groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = graft.tables.Tables.documents(SparkSpec.spark, SparkSpec.sf)
      .groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perStratum.keySet === sizes.keySet, "a stratum is missing")
    for ((lang, n) <- sizes)
      assert(perStratum(lang) === math.min(Text.QuotaK, n),
        s"$lang quota: got ${perStratum(lang)}, stratum size $n")
  }

  test("q114: planted shared substrings merge into maximal spans with holes") {
    // phrase A (5 tokens -> two overlapping 4-grams) sits at the START,
    // phrase B at the END of doc 1, separated by unique filler wider
    // than SpanN -> exactly two spans; docs 2..4 supply the df >= 3
    val A = "alpha beta gamma delta epsilon"
    val B = "omega psi chi phi"
    val docs = Seq(
      (1L, s"$A u1 u2 u3 u4 u5 u6 u7 $B"),
      (2L, s"x1 $A x2 x3 x4 x5 $B"),
      (3L, s"$A y2 y3 y4 y5 $B"),
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8")) // no duplicated grams at all
      .toDF("doc_id", "text")
    val spans = Text.dupSpansOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val doc1 = spans.filter(_._1 == 1L)
    // span 1: positions 1-5 (two overlapping grams merged); span 2: B
    assert(doc1.toSet === Set((1L, 1L, 5L, 5L, 2L), (1L, 13L, 16L, 4L, 1L)),
      s"doc 1 spans wrong: ${doc1.toSeq}")
    assert(!spans.exists(_._1 == 4L), "undupped doc grew a span")
  }

  test("q23 guard: refuses the quadratic stage past the pair bound") {
    // 30 identical 5-token docs: 3 distinct shingles, each df = 30 →
    // predicted pairs = 3 · 30·29/2 = 1305
    val docs = Seq.tabulate(30)(i => (i.toLong, "x y z w v"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      Text.ngramJaccardGuardedOf(docs, 0.12, bound = 100L)
    }
    // the refusal must point at BOTH production twins
    assert(ex.getMessage.contains("q51") && ex.getMessage.contains("q98"))
    // under the bound the guard is invisible: all 435 identical pairs
    val ok = Text.ngramJaccardGuardedOf(docs, 0.12, bound = 10000L)
    assert(ok.count() === 30L * 29 / 2)
  }

  test("q159: counts equal the plant predicate; the scrub leaves no residue") {
    val rows = Text.piiDocs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // the md5 plant predicate, recomputed independently
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val bucket = java.lang.Long.parseLong(
        md.take(4).map("%02x".format(_)).mkString, 16) % 1000
      assert(r.getAs[Long]("em") === (if (bucket < 200) 1L else 0L), s"doc $id email")
      assert(r.getAs[Long]("ph") === (if (bucket < 100) 1L else 0L), s"doc $id phone")
      assert(r.getAs[Long]("ip") === (if (bucket < 50) 1L else 0L), s"doc $id ip")
      // redaction is complete: no pattern survives in the scrubbed text
      val sc = r.getAs[String]("scrubbed")
      Seq(Text.PiiEmailRe, Text.PiiPhoneRe, Text.PiiIpRe).foreach { p =>
        assert(!p.r.findFirstIn(sc).isDefined, s"doc $id residue for $p")
      }
      // and a dirty doc actually carries the placeholder
      if (bucket < 200) assert(sc.contains("<EMAIL>"))
    }
    // the audit aggregate is exactly the doc-level sums
    val agg = Text.piiScrub(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("emails")).toMap
    val bySrc = rows.groupBy(_.getAs[String]("source"))
      .map { case (s0, rs) => s0 -> rs.map(_.getAs[Long]("em")).sum }
    assert(agg === bySrc)
  }

  test("q164: LF diagnostics obey the Snorkel laws; lang arm ≡ q47") {
    val total = graft.tables.Tables.documents(spark, sf).count()
    val rows = Text.weakLabels(spark, sf).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(rows.keySet === Set("lf_length", "lf_stopword", "lf_digit",
      "lf_lang"))
    rows.foreach { case (lf, (cov, ovl, conf, agr)) =>
      assert(cov > 0 && cov <= total, s"$lf coverage degenerate")
      // overlap/conflict/agreement all require a non-abstain vote,
      // and a conflict IS an overlap with opposite sign
      assert(ovl <= cov, s"$lf overlap > coverage")
      assert(conf <= ovl, s"$lf conflict > overlap")
      assert(agr <= cov, s"$lf agreement > coverage")
    }
    // the audit is only informative if the LFs actually disagree
    assert(rows.values.exists(_._3 > 0), "no LF ever conflicts")
    // the language LF's coverage is exactly q47's predicted-en count
    val enPred = Text.langIdConfusion(spark, sf).collect()
      .filter(_.getString(1) == "en").map(_.getAs[Long]("n")).sum
    assert(rows("lf_lang")._1 === enPred,
      "lf_lang coverage drifted from the q47 lang-ID surface")
  }

  test("q180: adaptive gate replays driver-side; median law holds") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map { r =>
        val w = r.getString(1).split(" ")
        (r.getString(0), w.distinct.length.toLong * 1000L / w.length)
      }
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val sc = ds.map(_._2).sorted
      val n = sc.length
      // exact 0.5 interpolation between integer order statistics
      val med = if (n % 2 == 1) sc(n / 2).toDouble
                else (sc(n / 2 - 1) + sc(n / 2)) / 2.0
      val below = sc.count(_.toDouble < med).toLong
      src -> ((n.toLong, med, below, below.toDouble / n))
    }
    val rows = Text.adaptiveGate(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows.keySet === expect.keySet)
    expect.foreach { case (src, e) => assert(rows(src) === e, s"source $src") }
    // the median law: strictly-below count can never reach half, and the
    // gate must actually flag documents somewhere or it is vacuous
    rows.values.foreach { case (n, _, below, share) =>
      assert(below * 2 <= n, "more than half the docs below their median")
      assert(share < 0.5 + 1e-12)
    }
    assert(rows.values.map(_._3).sum > 0, "gate never fires")
  }

  test("q181: boundary stitches replay driver-side from raw token runs") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val expect = Seq(2, 3, 4).map { k =>
      val eligible = docs.filter(_._2.length >= k)
      val pre = eligible.groupBy(_._2.take(k).mkString(" "))
        .map { case (g, ds) => g -> ds.map(_._1).toSeq }
      val pairs = for {
        (a, w) <- eligible
        b <- pre.getOrElse(w.takeRight(k).mkString(" "), Seq.empty[Long])
        if b != a
      } yield (a, b)
      k.toLong -> ((pairs.size.toLong,
        pairs.map(_._1).distinct.size.toLong,
        pairs.map(_._2).distinct.size.toLong))
    }.toMap
    val rows = Text.boundaryStitch(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet === Set(2L, 3L, 4L), "a probe width vanished")
    expect.foreach { case (k, e) => assert(rows(k) === e, s"k=$k") }
    // distinct participants can never exceed pairs; audit non-vacuous
    rows.values.foreach { case (p, t, h) => assert(t <= p && h <= p) }
    assert(rows(2L)._1 > 0, "no k=2 stitches — audit vacuous on fixture")
  }

  test("q186: CDC chunks replay driver-side; dup passages detected") {
    def bucket(w: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16) % 8
    }
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ")))
    // replay: boundary token starts a new chunk; chunks keep doc order
    val chunks = docs.flatMap { case (id, src, ws) =>
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
      val cur = scala.collection.mutable.ArrayBuffer[String]()
      ws.foreach { w =>
        if (bucket(w) == 0 && cur.nonEmpty) {
          out += ((id, src, cur.mkString(" "))); cur.clear()
        }
        cur += w
      }
      if (cur.nonEmpty) out += ((id, src, cur.mkString(" ")))
      out
    }
    val nDocsPerChunk = chunks.map(c => (c._3, c._1)).distinct
      .groupBy(_._1).map { case (t, ds) => t -> ds.length }
    val expect = chunks.groupBy(_._2).map { case (src, cs) =>
      val dup = cs.filter(c => nDocsPerChunk(c._3) >= 2)
      src -> ((cs.length.toLong, dup.length.toLong,
        dup.map(_._3.split(" ").length.toLong).sum))
    }
    val rows = Text.cdcChunks(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet === expect.keySet)
    expect.foreach { case (src, e) => assert(rows(src) === e, s"source $src") }
    // passage dedup must actually find cross-doc duplicate chunks (the
    // near-dup fixture docs share most of their chunks)
    assert(rows.values.map(_._2).sum > 0, "no duplicate passages found")
    // chunks reassemble every document exactly (token conservation)
    assert(rows.values.map(_._1).sum === chunks.length.toLong)
  }

  test("q186: the one-pass chunk report equals the two-pass spelling") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    // the report's former spelling: distinct (fp, doc_id), count docs per
    // fp, join the dup flag back onto every chunk
    def twoPass(chunks: DataFrame): DataFrame = {
      val dup = chunks.select(col("fp"), col("doc_id")).distinct()
        .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select(col("fp"), lit(true).as("dup"))
      chunks.join(dup, Seq("fp"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(when(col("dup"), col("n_tok")).otherwise(0L))
            .as("dup_token_mass"))
        .orderBy(col("source"))
    }
    def same(chunks: DataFrame): Unit = {
      val got = Text.cdcReportOf(chunks)
      val want = twoPass(chunks)
      assert(got.schema === want.schema)
      assert(got.collect().toSeq === want.collect().toSeq)
    }
    val chunks = Text.chunkRelationOf(graft.tables.Tables.documents(spark, sf))
      .localCheckpoint()
    same(chunks)
    // over a carried view of three segments, as the maintainer serves it
    val st = graft.streaming.Segments(chunks.filter(col("doc_id") % 3 === 0))
    st.append(chunks.filter(col("doc_id") % 3 === 1))
    same(st.append(chunks.filter(col("doc_id") % 3 === 2)))
    assert(st.width === 3)
    // an fp repeated inside one doc is not a duplicate; one shared by two
    // docs is, in both of its rows
    val hand = Seq((1L, "a", 0L, 2L, "x"), (1L, "a", 1L, 3L, "x"),
        (2L, "a", 0L, 4L, "y"), (3L, "b", 0L, 5L, "y"))
      .toDF("doc_id", "source", "cid", "n_tok", "fp")
    same(hand)
    assert(Text.cdcReportOf(hand).collect().map(r => (r.getString(0),
      r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq(("a", 3L, 1L, 4L), ("b", 1L, 1L, 5L)))
  }

  /** q186's chunker as spelled before the CdcChunks kernel: boundary
    * positions by a filtered position sequence, chunk spans by an indexed
    * transform, fingerprints by slice + concat_ws, behind the two barriers
    * that kept CollapseProject from re-splitting the text per element. */
  private def declarativeChunks(docs: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val toks = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .localCheckpoint(eager = false)
    val withB = toks.select(col("doc_id"), col("source"), col("w"),
        filter(sequence(lit(1), size(col("w"))),
          p => Text.md5Bucket(element_at(col("w"), p), 8L) === 0L).as("bpos"))
      .localCheckpoint(eager = false)
    val n = size(col("w"))
    val bpos = col("bpos")
    val head = when(coalesce(try_element_at(bpos, lit(1)), lit(0)) =!= 1,
      array(struct(lit(0L).as("cid"), lit(1).as("s"),
        coalesce(try_element_at(bpos, lit(1)) - 1, n).as("e"))))
      .otherwise(array().cast("array<struct<cid:bigint,s:int,e:int>>"))
    val rest = transform(bpos, (b, i) =>
      struct((i + 1).cast("long").as("cid"), b.as("s"),
        coalesce(try_element_at(bpos, i + 2) - 1, n).as("e")))
    withB
      .select(col("doc_id"), col("source"), col("w"),
        explode(concat(head, rest)).as("c"))
      .select(col("doc_id"), col("source"), col("c.cid").as("cid"),
        (col("c.e") - col("c.s") + 1).cast("long").as("n_tok"),
        md5(concat_ws(" ",
          slice(col("w"), col("c.s"), col("c.e") - col("c.s") + 1)))
          .as("fp"))
  }

  test("q186: the CdcChunks kernel equals the declarative chunker") {
    def bucket(w: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16) % 8
    }
    val words = (0 until 400).map(i => s"t$i")
    val cuts = words.filter(bucket(_) == 0).take(4)
    val plain = words.filter(bucket(_) != 0).take(5)
    assert(cuts.size == 4 && plain.size == 5)
    val edge = Seq[Option[String]](
      Some(""), Some(plain(0)), Some(cuts(0)), None,
      Some(s"${plain(0)}  ${plain(1)}"), Some(s"${cuts(0)}  ${cuts(1)} "),
      Some(cuts.mkString(" ")), Some(plain.mkString(" ")),
      Some((cuts.take(2) ++ plain.take(2) ++ cuts.drop(2) ++ plain).mkString(" ")),
      Some((plain.take(2) ++ cuts ++ plain.drop(2)).mkString(" ")))
      .zipWithIndex.map { case (t, i) => (-1L - i, s"edge$i", t) }
      .toDF("doc_id", "source", "text")
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .unionByName(edge)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))
    val got = Text.chunkRelationOf(docs)
    val want = declarativeChunks(docs)
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    val g = rows(got)
    assert(g === rows(want))
    // every edge row but the null text chunks; the corpus rows are there
    assert(g.map(_.head).toSet ===
      ((-10L to -1L).toSet - -4L) ++ docs.filter(col("doc_id") >= 0)
        .select("doc_id").as[Long].collect().toSet)
    // nullability: the kernel's cid, n_tok and fp are never null; the old
    // spelling marked cid and n_tok nullable (its struct fields merged
    // through concat, and size() of a null array is null), never holding
    // a null in either
    assert(got.schema.map(_.nullable) === Seq(true, true, false, false, false))
    assert(want.schema.map(_.nullable) === Seq(true, true, true, true, false))
  }

  test("q188: passage-level source matrix replays driver-side") {
    def bucket(w: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(x => f"${x & 0xff}%02x").mkString, 16) % 8
    }
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ")))
    val chunks = docs.flatMap { case (id, src, ws) =>
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
      val cur = scala.collection.mutable.ArrayBuffer[String]()
      ws.foreach { w =>
        if (bucket(w) == 0 && cur.nonEmpty) {
          out += ((id, src, cur.mkString(" "))); cur.clear()
        }
        cur += w
      }
      if (cur.nonEmpty) out += ((id, src, cur.mkString(" ")))
      out
    }
    val hot = chunks.map(c => (c._3, c._1)).distinct
      .groupBy(_._1).filter(_._2.length > 20).keySet
    val fs = chunks
      .filter(c => c._3.split(" ").length >= 4 && !hot(c._3))
      .map(c => (c._3, c._2)).distinct
    val bySrcText: Map[String, Seq[String]] =
      fs.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val expect = bySrcText.values.toSeq.flatMap { srcs =>
      for { a <- srcs; b <- srcs if a < b } yield (a, b)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val rows = Text.sourceChunkMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows === expect)
    // the matrix must be non-trivial and strictly upper-triangular
    assert(rows.nonEmpty, "no passage overlap found between any sources")
    rows.keys.foreach { case (a, b) => assert(a < b) }
  }

  test("q189: attribution ranking replays driver-side with rarity weights") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val w = r.getString(1).split(" ")
        (r.getLong(0),
          if (w.length < 3) Set.empty[String]
          else w.sliding(3).map(_.mkString(" ")).toSet)
      }
    val df3 = docs.flatMap(_._2.toSeq).groupBy(identity)
      .map { case (g, xs) => g -> xs.size.toLong }
      .filter(_._2 <= 1000L)
    val probes = docs.filter(_._1 < 5)
    val train = docs.filter(_._1 >= 50)
    val expect = probes.map { case (pid, psh) =>
      val scored = train.flatMap { case (tid, tsh) =>
        val shared = psh.intersect(tsh).filter(df3.contains)
        if (shared.isEmpty) None
        else Some((tid, shared.toSeq.map(g => 1000000L / df3(g)).sum,
          shared.size.toLong))
      }.sortBy { case (tid, sc, _) => (-sc, tid) }.take(3)
      pid -> scored.zipWithIndex.map { case ((tid, sc, ns), i) =>
        (i + 1L, tid, sc, ns) }.toSeq
    }.toMap
    val rows = Text.memorizationAttribution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .groupBy(_._1).map { case (p, rs) =>
        p -> rs.sortBy(_._2).map(t => (t._2, t._3, t._4, t._5)).toSeq }
    assert(rows.keySet === expect.keySet, "a probe vanished")
    expect.foreach { case (p, e) => assert(rows(p) === e, s"probe $p") }
    // every probe must find attribution candidates on this corpus, and
    // at least one probe's top hit must rest on >1 shared shingle
    assert(rows.keySet === (0L until 5L).toSet)
    assert(expect.values.exists(_.headOption.exists(_._4 > 1L)),
      "all top hits single-shingle — scoring carries no signal")
  }

  test("q191: deletion audit replays driver-side; residue is zero") {
    def req(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(x => f"${x & 0xff}%02x").mkString, 16) % 97 == 0
    }
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = docs.groupBy(_._2).map { case (src, ds) =>
      val kept = ds.filter(d => !req(d._1))
      src -> ((ds.length.toLong, ds.map(_._3).sum,
        ds.count(d => req(d._1)).toLong,
        kept.length.toLong, kept.map(_._3).sum))
    }
    val rows = Text.deletionAudit(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(rows.keySet === expect.keySet)
    expect.foreach { case (src, (nd, bb, nr, na, ba)) =>
      val got = rows(src)
      assert((got._1, got._2, got._3, got._4, got._5) ===
        ((nd, bb, nr, na, ba)), s"source $src")
    }
    // the compliance contract: zero residue everywhere, counts close,
    // and the planted list actually removed something
    rows.values.foreach { case (nd, _, nr, na, _, res) =>
      assert(res === 0L, "a requested doc survived deletion")
      assert(na === nd - nr, "counts don't close over the deletion")
    }
    assert(rows.values.map(_._3).sum > 0, "request list empty — vacuous")
  }

  test("q224: kappa replays driver-side from the raw votes, bounds hold") {
    val votes = Text.lfVotes(spark, sf).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val names = Seq("lf_length", "lf_stopword", "lf_digit", "lf_lang")
    val rows = Text.labelKappa(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    assert(rows.size === 6, "expected all 6 LF pairs")
    for (i <- 0 until 4; j <- i + 1 until 4) {
      val co = votes.filter(v => v(i) != 0 && v(j) != 0)
      val n = co.length.toLong
      val agree = co.count(v => v(i) == v(j)).toLong
      val ap = co.count(_(i) == 1).toLong
      val bp = co.count(_(j) == 1).toLong
      val pe = ap * bp + (n - ap) * (n - bp)
      val (num, den) = (n * agree - pe, n * n - pe)
      val (gn, ga, gnum, gden, gk) = rows((names(i), names(j)))
      assert((gn, ga, gnum, gden) === ((n, agree, num, den)),
        s"${names(i)}/${names(j)} contingency replay")
      if (den != 0) {
        assert(gk === Some(num.toDouble / den))
        assert(gk.get >= -1.0 && gk.get <= 1.0, "kappa out of [-1, 1]")
      } else assert(gk.isEmpty, "degenerate pair must yield NULL kappa")
      assert(ga <= gn && gn > 0, "vacuous pair — vote wiring?")
    }
  }

  test("q229: a document quoted whole scores containment 1.0 toward its " +
      "superset, and the reverse direction scores its shingle share") {
    // A's 2 shingles both occur in B (A is a verbatim quote inside B);
    // B has 7 shingles total → C(A→B)=1.0, C(B→A)=2/7
    val docs = Seq(
      (1L, "w1 w2 w3 w4"),
      (2L, "p1 p2 w1 w2 w3 w4 p3 p4 p5")
    ).toDF("doc_id", "text")
    val rows = Text.containmentPairsOf(docs, Text.DfCap, 0.01).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows((1L, 2L)) === 1.0)
    assert(rows((2L, 1L)) === 2.0 / 7.0)
  }

  test("q229: containment dominates Jaccard on every near-dup pair " +
      "(|∩|/|A| ≥ |∩|/|A∪B|) and respects the threshold") {
    val jac = Text.ngramJaccardCapped(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val cont = Text.containmentPairsOf(
      graft.tables.Tables.documents(spark, sf), Text.DfCap, 0.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(jac.nonEmpty)
    jac.foreach { case ((a, b), j) =>
      assert(cont((a, b)) >= j - 1e-12, s"containment($a->$b) < jaccard")
      assert(cont((b, a)) >= j - 1e-12, s"containment($b->$a) < jaccard")
    }
    val thresholded = Text.containmentPairs(spark, sf).collect()
    thresholded.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= Text.MinContainment && c <= 1.0 + 1e-12)
    }
  }

  test("q230: identical per-source distributions give TVD 0; disjoint " +
      "vocabularies give TVD (N-Ns)/N") {
    val same = Seq(
      (1L, "a b c", "en", "s1", 5L), (2L, "a b c", "en", "s2", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    Text.sourceDivergenceOf(same).collect().foreach { r =>
      assert(r.getDouble(3) === 0.0, s"${r.getString(0)}: expected TVD 0")
    }
    // disjoint: each source is 3 of 6 corpus tokens → TVD = 3/6 = 0.5
    val disj = Seq(
      (1L, "a b c", "en", "s1", 5L), (2L, "x y z", "en", "s2", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    Text.sourceDivergenceOf(disj).collect().foreach { r =>
      assert(r.getDouble(3) === 0.5, s"${r.getString(0)}: expected TVD 0.5")
    }
    // fixture-scale invariants: TVD ∈ [0, 1), every source present
    val rows = Text.sourceDivergence(spark, sf).collect()
    val nSrc = graft.tables.Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(rows.length.toLong === nSrc)
    rows.foreach { r =>
      val t = r.getDouble(3)
      assert(t >= 0.0 && t < 1.0, s"${r.getString(0)}: TVD $t out of range")
    }
  }

  test("WordNGrams equals the declarative transform+element_at spelling") {
    // the round-16 fused expression must be value-identical to the
    // lambda it replaced, including concat_ws's null-skipping and the
    // short-array edge (every production caller guards size >= n, but
    // the expression itself must stay sane below it)
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.{Shim, WordNGrams}
    val docs = Seq(
      Seq("a", "b", "c", "d"),
      Seq("x", "y"),
      Seq("solo"),
      Seq[String](),
      Seq("n", null, "q", "r") // null token: concat_ws skips it
    ).toDF("w")
    for (n <- Seq(2, 3, 5)) {
      val fused = docs.select(
        Shim.column(WordNGrams(Shim.expression(col("w")), n)).as("g"))
        .collect().map(_.getSeq[String](0))
      val declarative = docs.select(
        when(size(col("w")) >= n,
          transform(sequence(lit(1), size(col("w")) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(o =>
              element_at(col("w"), i + o)): _*)))
          .otherwise(array()).as("g"))
        .collect().map(_.getSeq[String](0))
      assert(fused.toSeq === declarative.toSeq, s"n=$n diverged")
    }
  }

  test("WordSkipGrams equals the declarative per-offset lambda spelling") {
    // q93's fused pair generator must emit the exact offset-major pair
    // multiset the flatten(array(per-offset transform)) spelling built,
    // including the short-document edges (1-token and empty docs yield
    // no pairs; a 2-token doc owns exactly its offset-1 pair) and
    // concat_ws's null-skipping
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.{Shim, WordSkipGrams}
    val docs = Seq(
      Seq("a", "b", "c", "d", "e"),
      Seq("x", "y"),
      Seq("solo"),
      Seq[String](),
      Seq("n", null, "q", "r") // null token: concat_ws skips it
    ).toDF("w")
    for (maxSkip <- Seq(1, 2, 4)) {
      val fused = docs.select(
        Shim.column(WordSkipGrams(Shim.expression(col("w")), maxSkip)).as("g"))
        .collect().map(_.getSeq[String](0))
      val declarative = docs.select(
        flatten(array((1 to maxSkip).map { off =>
          when(size(col("w")) > off,
            transform(sequence(lit(1), size(col("w")) - off),
              i => concat_ws(" ", element_at(col("w"), i),
                element_at(col("w"), i + off))))
            .otherwise(array().cast("array<string>"))
        }: _*)).as("g"))
        .collect().map(_.getSeq[String](0))
      assert(fused.toSeq === declarative.toSeq, s"maxSkip=$maxSkip diverged")
    }
  }
}
