package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash document fingerprint (base-31 over UTF-8 bytes,
  * mod the prime 2^58-27) as a codegen'd Catalyst expression.
  *
  * North-star text-analysis extension (no counterpart in the reference).
  * Purpose: a cheap 64-bit content fingerprint for exact-dup detection /
  * shard-local grouping at 100 TB scale — half the width of md5, computed
  * in one pass over the bytes with no allocation, and prefix-composable
  * (a rolling hash can be resumed across chunks, unlike md5 here).
  *
  * The modulus must satisfy (M-1)*31 + 255 < 2^63 or the h*31 step
  * silently wraps in Java long arithmetic (the original 2^61-1 modulus
  * had exactly this bug — caught by the q46 DuckDB oracle, whose HUGEINT
  * arithmetic computed the true value). 2^58-27 is the largest prime
  * leaving the full headroom.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash requires STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var h = 0L; var i = 0
    val M = RollingHash.Mod
    while (i < bytes.length) {
      h = (h * 31 + (bytes(i) & 0xff)) % M
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes"); val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * 31L + ($bytes[$i] & 0xff)) % ${RollingHash.Mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RollingHash {
  /** Largest prime with (Mod-1)*31 + 255 < 2^63 (no 64-bit overflow). */
  val Mod: Long = (1L << 58) - 27
}

/** Heuristic language identification by stopword-profile hit counting.
  *
  * The classic cheap lang-ID: count occurrences of each language's
  * high-frequency function words in the token stream; highest scoring
  * profile wins, ties broken by profile order, score 0 → "und"
  * (undetermined). Profiles are the standard top function words of each
  * language — public linguistic knowledge, deterministic.
  *
  * Implemented as an interpreted Catalyst expression (no codegen — string
  * scanning dominates; called once per document, not in a tight join loop).
  */
case class LangId(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lang_id requires STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any = {
    val tokens = v.asInstanceOf[UTF8String].toString
      .toLowerCase.split("\\s+")
    var best = "und"; var bestScore = 0
    LangId.Profiles.foreach { case (lang, words) =>
      var score = 0
      var i = 0
      while (i < tokens.length) { if (words(tokens(i))) score += 1; i += 1 }
      if (score > bestScore) { best = lang; bestScore = score }
    }
    UTF8String.fromString(best)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** One-pass implementation of the engine-portable SimHash (md5-derived
  * 60-bit token hashes, bit-tally sign fingerprint).
  *
  * Produces values IDENTICAL to the declarative built-in pipeline
  * `transform(split(text,' '), t -> conv(substr(md5(t),1,15),16,10))`
  * + 60 aggregate() bit tallies (DedupSpec asserts the equality, and the
  * q25/q46 DuckDB oracles recompute the same values in SQL) — but ~5×
  * faster: higher-order functions are interpreted per-lambda-per-element
  * in Spark, so the 60 tally passes dominated q25/q46. Here the whole
  * fingerprint is one tight Java loop per document (CodegenFallback: one
  * virtual call per row is noise next to the md5 work).
  */
case class PortableSimHash(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "portable_simhash"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"portable_simhash requires STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any = {
    // split(" ", -1) replicates Spark's split(): trailing empties kept
    val tokens = v.asInstanceOf[UTF8String].toString.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val tally = new Array[Int](60)
    tokens.foreach { t =>
      md.reset()
      val dig = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars of the digest = first 60 bits, big-endian
      var h = 0L
      var i = 0
      while (i < 7) { h = (h << 8) | (dig(i) & 0xffL); i += 1 }
      h = (h << 4) | ((dig(7) & 0xffL) >>> 4)
      var j = 0
      while (j < 60) {
        if (((h >>> j) & 1L) == 1L) tally(j) += 1 else tally(j) -= 1
        j += 1
      }
    }
    var fp = 0L
    var j = 0
    while (j < 60) { if (tally(j) > 0) fp |= 1L << j; j += 1 }
    fp
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** One-pass implementation of the engine-portable MinHash signature
  * (word-3-gram shingles, md5-derived 32-bit shingle hashes, P affine
  * permutation minima).
  *
  * Produces values IDENTICAL to the declarative spelling
  * (`split` → shingle lambda → `conv(substr(md5(s),1,8),16,10) % p` →
  * P × `array_min(transform(...))`) — DedupSpec asserts the equality and
  * the q24/q48 DuckDB oracles recompute the same signatures in SQL — but
  * in one tight loop per document: shingle construction, md5, and all P
  * permutation minima fused, no intermediate arrays, no interpreted
  * lambda passes. `array_distinct` in the declarative form is dropped
  * here because min over a multiset equals min over its distinct set.
  */
case class PortableMinHash(child: Expression, perms: Seq[(Long, Long)],
    prime: Long) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_minhash"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"portable_minhash requires STRING, got ${child.dataType.sql}")

  private lazy val as: Array[Long] = perms.map(_._1).toArray
  private lazy val bs: Array[Long] = perms.map(_._2).toArray

  override def nullSafeEval(v: Any): Any = {
    val tokens = v.asInstanceOf[UTF8String].toString.split(" ", -1)
    val L = tokens.length
    val n = math.max(L - 2, 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val P = as.length
    val mins = Array.fill(P)(Long.MaxValue)
    var i = 0
    while (i < n) {
      // shingle i (0-based) = w[i], w[min(i+1,L-1)], w[min(i+2,L-1)]
      val s = tokens(i) + " " + tokens(math.min(i + 1, L - 1)) + " " +
        tokens(math.min(i + 2, L - 1))
      md.reset()
      val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex chars of the digest = first 4 bytes, big-endian
      var h = 0L; var b = 0
      while (b < 4) { h = (h << 8) | (dig(b) & 0xffL); b += 1 }
      h %= prime
      var j = 0
      while (j < P) {
        val perm = (as(j) * h + bs(j)) % prime
        if (perm < mins(j)) mins(j) = perm
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Word n-grams of a words-array column in one tight loop per row
  * (round 16). Value-identical to the declarative spelling
  * `transform(sequence(1, size-(n-1)), i -> concat_ws(" ",
  * element_at(w, i), ..., element_at(w, i+n-1)))`: one space-joined
  * string per start position, NOT distinct, null elements skipped
  * exactly as concat_ws skips them (UTF8String.concatWs has the same
  * contract), empty result when the array holds fewer than n words
  * (every caller guards with size >= n anyway; the declarative
  * sequence(1, 0) would descend). Higher-order lambdas evaluate one
  * INTERPRETED expression tree per element, so the fused loop removes
  * the per-element overhead from the hottest stage of the whole
  * shingle family (q23/q51/q98/q229, q79's gram pass, the q126/q127
  * bigram passes, ...). */
case class WordNGrams(child: Expression, n: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n >= 1, s"word_ngrams: n must be >= 1, got $n")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_ngrams requires ARRAY<STRING>, got ${other.sql}")
    }

  private val sep = UTF8String.fromString(" ")

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val sz = arr.numElements()
    val m = sz - (n - 1)
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](0))
    val words = new Array[UTF8String](sz)
    var i = 0
    while (i < sz) {
      words(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](m)
    val window = new Array[UTF8String](n)
    i = 0
    while (i < m) {
      var j = 0
      while (j < n) { window(j) = words(i + j); j += 1 }
      // concatWs skips nulls — the concat_ws contract the declarative
      // spelling had
      out(i) = UTF8String.concatWs(sep, window: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** All ordered skip-gram pairs of a words-array column in one tight loop
  * per row (round 16, second pass — q93). Value-identical to the
  * declarative spelling `flatten(array((1 to maxSkip).map(off =>
  * when(size(w) > off, transform(sequence(1, size(w) - off), i ->
  * concat_ws(" ", element_at(w, i), element_at(w, i + off))))
  * .otherwise(array()))))`: offset-major order (all offset-1 pairs, then
  * offset-2, ...), null elements skipped exactly as concat_ws skips them
  * (UTF8String.concatWs has the same contract), offsets past the array
  * length contribute nothing. The declarative form evaluates an
  * INTERPRETED lambda tree per pair (a sequence array allocation per
  * offset plus 2 element_at + concat_ws per pair); here it is one
  * UTF8String.concatWs per pair over a once-extracted word array. */
case class WordSkipGrams(child: Expression, maxSkip: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(maxSkip >= 1, s"word_skip_grams: maxSkip must be >= 1, got $maxSkip")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_skip_grams"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_skip_grams requires ARRAY<STRING>, got ${other.sql}")
    }

  private val sep = UTF8String.fromString(" ")

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val sz = arr.numElements()
    var total = 0
    var off = 1
    while (off <= maxSkip) { if (sz > off) total += sz - off; off += 1 }
    if (total == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](0))
    val words = new Array[UTF8String](sz)
    var i = 0
    while (i < sz) {
      words(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](total)
    var k = 0
    off = 1
    while (off <= maxSkip) {
      val m = sz - off
      i = 0
      while (i < m) {
        out(k) = UTF8String.concatWs(sep, words(i), words(i + off))
        k += 1
        i += 1
      }
      off += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Content-defined chunks of a words-array column in one pass per row:
  * q186's chunker (and q188's, and the streaming chunk carry's) as one
  * kernel. Token i starts a new chunk when its md5 bucket is 0, the
  * bucket being the first 4 digest bytes as an unsigned int mod `mod`
  * ([[graft.ext.Text.md5Bucket]]'s value); tokens before the first
  * boundary form chunk 0, and chunk k (k >= 1) starts at the k-th
  * boundary and runs to the token before the next one. Each chunk is
  * (cid, n_tok, fp), fp the md5 hex of its tokens joined by one space.
  *
  * Value-identical to the declarative spelling it replaced (boundary
  * positions by `filter(sequence(1, size(w)), ...)`, spans by
  * `transform` over them, `md5(concat_ws(" ", slice(w, s, len)))`): a
  * null token is never a boundary, counts in n_tok and is skipped in
  * the digest, exactly as concat_ws skips it. An empty array has no
  * chunks (`split` never yields one). The declarative form evaluated an
  * INTERPRETED lambda per token and per chunk and needed two checkpoint
  * barriers to stop CollapseProject re-splitting the text per element;
  * here the text is tokenized once and each token hashed once. */
case class CdcChunks(child: Expression, mod: Long) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(mod >= 1, s"cdc_chunks: mod must be >= 1, got $mod")

  override def dataType: DataType = CdcChunks.Type
  override def prettyName: String = "cdc_chunks"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cdc_chunks requires ARRAY<STRING>, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val words = new Array[UTF8String](n)
    // 0-based positions of the tokens that start a chunk k >= 1
    val bpos = new Array[Int](n)
    var nb = 0
    var i = 0
    while (i < n) {
      val w = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      words(i) = w
      if (w != null) {
        val d = md.digest(w.getBytes)
        val b = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        if (b % mod == 0) { bpos(nb) = i; nb += 1 }
      }
      i += 1
    }
    // chunk 0 holds the tokens before the first boundary, if any
    val head = if (n > 0 && (nb == 0 || bpos(0) > 0)) 1 else 0
    val out = new Array[Any](head + nb)
    def chunk(cid: Int, s: Int, e: Int): Unit = {
      var j = s
      var first = true
      while (j < e) {
        val w = words(j)
        if (w != null) {
          if (!first) md.update(CdcChunks.Sep)
          md.update(w.getBytes)
          first = false
        }
        j += 1
      }
      out(cid - 1 + head) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](cid.toLong, (e - s).toLong,
          CdcChunks.hex(md.digest())))
    }
    if (head == 1) chunk(0, 0, if (nb > 0) bpos(0) else n)
    var k = 0
    while (k < nb) {
      chunk(k + 1, bpos(k), if (k + 1 < nb) bpos(k + 1) else n)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object CdcChunks {
  /** ARRAY<STRUCT<cid BIGINT, n_tok BIGINT, fp STRING>>, nothing null. */
  val Type: DataType = {
    import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
    ArrayType(StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("n_tok", LongType, nullable = false),
      StructField("fp", StringType, nullable = false))), containsNull = false)
  }

  private val Sep = Array[Byte](' ')
  private val Hex = "0123456789abcdef".getBytes

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

object LangId {
  /** Top function words per language (standard frequency lists). Order
    * fixed → deterministic tie-breaking. */
  val Profiles: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "of", "and", "to", "a", "in", "is", "it", "that",
      "was", "for", "on", "are", "with", "as"),
    "de" -> Set("der", "die", "und", "das", "ist", "nicht", "ein", "mit",
      "von", "den", "zu", "im", "sich", "auf", "für"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "un", "los", "se",
      "del", "las", "por", "con", "una", "es"),
    "fr" -> Set("le", "la", "de", "et", "les", "des", "est", "un", "une",
      "du", "dans", "que", "pour", "qui", "sur"),
    "zh" -> Set("的", "是", "在", "了", "有", "和", "人", "这", "中",
      "大", "为", "上", "个", "国", "我"))
}
