package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom Catalyst expressions for the URL / mime scalar surface the engine
 * needs beyond Spark built-ins (SURVEY.md §4 items 1-3). Each stays inside
 * whole-stage codegen: `doGenCode` emits a direct static call into
 * [[UrlFns]] — no UDF boxing, no codegen fallback on the hot path.
 *
 * Null semantics: standard null-in → null-out (UnaryExpression /
 * BinaryExpression nullSafe machinery), matching the reference's skip-host
 * behavior on unparseable input (store/store.go:330-344).
 */
object GraftExpressions {

  /** Codegen helper bridging UTF8String <-> java.lang.String. */
  private def strCall(fn: String, args: String*): String =
    s"UTF8String.fromString(graft.functions.UrlFns.$fn(${args.mkString(", ")}))"

  case class Etld1(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "etld1"
    override def nullSafeEval(v: Any): Any = {
      val r = UrlFns.etld1(v.asInstanceOf[UTF8String].toString)
      if (r == null) null else UTF8String.fromString(r)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |String ${ev.value}Str = graft.functions.UrlFns.etld1($c.toString());
           |if (${ev.value}Str == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = UTF8String.fromString(${ev.value}Str); }
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class PublicSuffix(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "public_suffix"
    override def nullSafeEval(v: Any): Any = {
      val r = UrlFns.publicSuffix(v.asInstanceOf[UTF8String].toString)
      if (r == null) null else UTF8String.fromString(r)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |String ${ev.value}Str = graft.functions.UrlFns.publicSuffix($c.toString());
           |if (${ev.value}Str == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = UTF8String.fromString(${ev.value}Str); }
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class ResolveUrl(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "resolve_url"
    override def nullSafeEval(base: Any, href: Any): Any = {
      val r = UrlFns.resolveUrl(
        base.asInstanceOf[UTF8String].toString,
        href.asInstanceOf[UTF8String].toString)
      if (r == null) null else UTF8String.fromString(r)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (b, h) => {
        s"""
           |String ${ev.value}Str = graft.functions.UrlFns.resolveUrl($b.toString(), $h.toString());
           |if (${ev.value}Str == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = UTF8String.fromString(${ev.value}Str); }
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class UrlHost(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "url_host"
    override def nullSafeEval(v: Any): Any = {
      val r = UrlFns.hostOf(v.asInstanceOf[UTF8String].toString)
      if (r == null) null else UTF8String.fromString(r)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |String ${ev.value}Str = graft.functions.UrlFns.hostOf($c.toString());
           |if (${ev.value}Str == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = UTF8String.fromString(${ev.value}Str); }
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class SniffMime(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "sniff_mime"
    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(UrlFns.sniffMime(v.asInstanceOf[Array[Byte]]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"UTF8String.fromString(graft.functions.UrlFns.sniffMime($c))")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class GzipSize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "gzip_size"
    override def nullSafeEval(v: Any): Any =
      UrlFns.gzipSize(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.UrlFns.gzipSize($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Standard null-in→null-out; callers wanting strictness use
    * `coalesce(robots_allowed(u), lit(false))`. */
  case class RobotsAllowed(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def prettyName: String = "robots_allowed"
    override def nullSafeEval(v: Any): Any =
      UrlFns.robotsAllowed(v.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.UrlFns.robotsAllowed($c.toString())")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * Exact Jaccard over two SORTED, DISTINCT string arrays via two-pointer
   * merge — zero allocation per row, vs `array_intersect`/`array_union`
   * which build hash sets + result arrays (measured ~10x slower at
   * corpus scale). Interpreted eval only (CodegenFallback): the merge loop
   * over ArrayData dominates, not the dispatch.
   */
  case class JaccardSorted(left: Expression, right: Expression)
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "jaccard_sorted"
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val nx = x.numElements()
      val ny = y.numElements()
      if (nx == 0 && ny == 0) return 1.0
      var i = 0
      var j = 0
      var inter = 0
      while (i < nx && j < ny) {
        val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      inter.toDouble / (nx + ny - inter).toDouble
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /**
   * `minhash_sig(shingles array<string>, n)` — the full n-hash MinHash
   * signature in ONE primitive-array pass. Bit-identical by construction
   * to the column-algebra form
   * `aggregate(transform(sh, xxhash64), [MaxValue]*n,
   *    (acc,h) => zip_with(acc, transform(0..n-1, i => xxhash64(h,i)), least))`
   * — it calls the SAME `XXH64` primitives Spark's `xxhash64` evaluates
   * (string → hashUnsafeBytes(seed 42); (h,i) → hashInt(i, hashLong(h,42)))
   * — but with none of the higher-order-function tax: the HOF form builds
   * two fresh 128-element ArrayData per shingle and dispatches an
   * interpreted lambda per element (~2·n·|sh| allocations per doc), which
   * made the q25 signature pass the dominant cost of the whole LSH
   * pipeline. Bit-identity is property-tested against the HOF formula
   * (OperatorsSpec), so LSH bucket assignments — and therefore recall —
   * are EXACTLY unchanged.
   */
  case class MinhashSig(left: Expression, right: Expression)
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "minhash_sig"
    override def nullSafeEval(a: Any, nAny: Any): Any = {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = nAny.asInstanceOf[Int]
      val mins = Array.fill(n)(Long.MaxValue)
      val m = arr.numElements()
      var k = 0
      while (k < m) {
        val s = arr.getUTF8String(k)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        val base = XXH64.hashLong(h, 42L)
        var i = 0
        while (i < n) {
          val v = XXH64.hashInt(i, base)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
        k += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /**
   * `cosine_sim(a array<float|double>, b array<float|double>)` — cosine
   * similarity in ONE primitive pass (dot product and both norms
   * accumulated together). Bit-identical to the column-algebra form
   * `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))` with
   * `dot = aggregate(zip_with(a,b,x*y), 0.0, +)`: the fold is
   * left-to-right in index order and each element is cast to double
   * before multiplying — this loop performs the same double ops in the
   * same order (property-tested in OperatorsSpec). The HOF form built a
   * fresh products array per pair and dispatched interpreted lambdas per
   * element, ×3 (dot + both norms) — the dominant cost of every cosine
   * pipeline (q26/q27/q29/q30: brute-force, LSH verify, IVF k-means).
   *
   * ONE deliberate divergence: a zero-norm vector yields NULL here, where
   * the HOF division raises DIVIDE_BY_ZERO under ANSI mode (Spark 4
   * default). A degenerate embedding must not kill a 100 TB job, and null
   * (unlike NaN, which sorts HIGHEST in descending rank order) falls out
   * of thresholds and top-k rankings harmlessly.
   */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "cosine_sim"
    private lazy val leftIsFloat =
      left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    private lazy val rightIsFloat =
      right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = x.numElements()
      // length mismatch → null, matching zip_with's null-padding through
      // the HOF fold (null product poisons the whole sum)
      if (y.numElements() != n) return null
      var dp = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
        val yi = if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
        dp += xi * yi
        na += xi * xi
        nb += yi * yi
        i += 1
      }
      if (na == 0.0 || nb == 0.0) null
      else dp / (math.sqrt(na) * math.sqrt(nb))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /**
   * `simhash60(tokens array<string>)` — the 60-bit SimHash sketch in ONE
   * primitive pass. Bit-identical by construction to the column-algebra
   * form in [[graft.operators.Dedup.simhashHof]] (per token
   * `h = conv(substring(md5(t),1,15),16,10)` — the top 60 bits of the md5
   * digest, i.e. the big-endian long of its first 8 bytes >>> 4 — then
   * `signs[j] += ((h >> j) & 1)*2-1` and final bit j set iff
   * `signs[j] > 0`), property-tested in OperatorsSpec. md5 is kept (not
   * xxhash64) because DuckDB can replay it — the q28 oracle rebuilds the
   * sketch in SQL, so the hash family is part of the verified contract.
   *
   * The HOF form dispatched 60 interpreted lambdas PER TOKEN through three
   * nested higher-order functions and allocated two fresh 60-element
   * arrays per token (~doc_len·120 allocations per row) — it was q28's
   * dominant cost, the same tax profile `minhash_sig` removed from q25.
   *
   * Null semantics match the HOF fold: null array → null; a null ELEMENT
   * poisons every sign slot at once (null arithmetic), after which
   * `when(s > 0, ...).otherwise(0)` emits 0 for every bit → 0L.
   * Interpreted eval only (CodegenFallback): the md5 + 60-bit loop
   * dominates, not the dispatch.
   */
  case class Simhash60(child: Expression) extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "simhash60"
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val signs = new Array[Int](60)
      val md = GraftExpressions.md5Local.get()
      var k = 0
      while (k < n) {
        if (arr.isNullAt(k)) return 0L // null token nulls ALL signs → all-zero bits
        md.reset()
        md.update(arr.getUTF8String(k).getBytes)
        val d = md.digest()
        // big-endian long of the first 8 digest bytes, >>> 4 = first 15 hex
        // chars = conv(substring(md5(t),1,15),16,10)
        var l = 0L
        var b = 0
        while (b < 8) { l = (l << 8) | (d(b) & 0xffL); b += 1 }
        val h = l >>> 4
        var j = 0
        while (j < 60) {
          signs(j) += (((h >>> j) & 1L).toInt * 2) - 1
          j += 1
        }
        k += 1
      }
      var res = 0L
      var j = 0
      while (j < 60) {
        if (signs(j) > 0) res |= 1L << j
        j += 1
      }
      res
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Per-thread MD5 instance for [[Simhash60]] (MessageDigest is stateful
    * and not thread-safe; expression trees can be shared across tasks). */
  private[functions] val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /**
   * `md5_window_hashes(tokens array<string>, w)` — the 60-bit md5-derived
   * hash of every `w`-token window of the document, in ONE primitive pass
   * (q46's window identity). Bit-identical by construction to the
   * column-algebra form in [[graft.operators.Dedup.substringDupSpans]]'s
   * specification — per start `s`:
   * `conv(substring(md5(concat('sub:', concat_ws(' ', slice(tk,s,w)))),1,15),16,10)`
   * — i.e. md5 over the UTF-8 bytes of `"sub:" + tokens joined by " "`,
   * top 60 bits (big-endian first 8 digest bytes >>> 4), md5 kept so the
   * DuckDB oracle replays the identical windows in SQL (property-tested
   * against the retained column form). Docs shorter than `w` tokens yield
   * an EMPTY array (the `when(size >= w, …).otherwise(array())` guard).
   *
   * The HOF form dispatched an interpreted lambda per window and built
   * the window string through four allocating expression nodes (slice →
   * concat_ws → concat → hex-substring-conv); this pass converts each
   * token to UTF-8 once per DOC and streams the bytes straight into a
   * thread-local MessageDigest per window. Null-token semantics match
   * `concat_ws`: null elements are skipped, joining the remaining tokens
   * (the upstream tokenizer never emits null, but parity is kept).
   * Interpreted eval only (CodegenFallback): the md5 dominates.
   */
  case class Md5WindowHashes(tokens: Expression, w: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(w >= 1, "window must be >= 1 token")
    override def child: Expression = tokens
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "md5_window_hashes"
    private val subPrefix = "sub:".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      if (n < w)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.empty[Long])
      val toks = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
        i += 1
      }
      val md = GraftExpressions.md5Local.get()
      val out = new Array[Long](n - w + 1)
      var s = 0
      while (s <= n - w) {
        md.reset()
        md.update(subPrefix)
        var first = true
        var k = 0
        while (k < w) {
          val t = toks(s + k)
          if (t != null) { // concat_ws skips null elements
            if (!first) md.update(' '.toByte)
            md.update(t)
            first = false
          }
          k += 1
        }
        val d = md.digest()
        var l = 0L
        var b = 0
        while (b < 8) { l = (l << 8) | (d(b) & 0xffL); b += 1 }
        out(s) = l >>> 4 // first 15 hex chars = conv(substring(md5,1,15),16,10)
        s += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(tokens = c)
  }

  /**
   * `md5_gram_buckets(tokens array<string>, buckets, prefix)` — the
   * hashing-trick feature buckets of a document's unigrams + bigrams in
   * ONE primitive pass (the q55 classifier / q44 DSIR featurizer):
   * per gram `g` (each token, then each `"tok[i] tok[i+1]"` pair, in
   * that order) the value is
   * `conv(substring(md5(prefix || g), 1, 15), 16, 10) % buckets` as an
   * int — md5 kept so the DuckDB oracles replay identical buckets.
   * Bit-identical by construction to the column-algebra form retained as
   * [[graft.operators.Corpus.hashedGramsSpec]] (property-tested). The
   * HOF form dispatched two interpreted lambda layers and built every
   * bigram through slice → concat_ws → concat → hex-substring-conv —
   * ~1M allocating md5 chains per 5k-doc batch; this pass converts each
   * token to UTF-8 once and streams prefix/gram bytes straight into the
   * thread-local MessageDigest. Null tokens never reach this (the
   * upstream tokenizer filters empties); bigram null-parity follows
   * concat_ws (skip). Interpreted eval only (CodegenFallback): the md5
   * dominates.
   */
  case class Md5GramBuckets(tokens: Expression, buckets: Int, prefix: String)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(buckets >= 1, "buckets must be >= 1")
    override def child: Expression = tokens
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "md5_gram_buckets"
    private val pfx = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val toks = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
        i += 1
      }
      val md = GraftExpressions.md5Local.get()
      def bucketOf(first: Array[Byte], second: Array[Byte]): Int = {
        md.reset()
        md.update(pfx)
        if (first != null) md.update(first)
        if (second != null) { // concat_ws parity: null skipped, no sep
          if (first != null) md.update(' '.toByte)
          md.update(second)
        }
        val d = md.digest()
        var l = 0L
        var b = 0
        while (b < 8) { l = (l << 8) | (d(b) & 0xffL); b += 1 }
        ((l >>> 4) % buckets).toInt // first 15 hex chars, % buckets
      }
      val m = if (n >= 2) 2 * n - 1 else n
      val out = new Array[Int](m)
      i = 0
      while (i < n) { out(i) = bucketOf(toks(i), null); i += 1 }
      i = 0
      while (i < n - 1) { out(n + i) = bucketOf(toks(i), toks(i + 1)); i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(tokens = c)
  }

  /**
   * `bpe_apply(tokens array<string>, merges array<string>)` — apply a
   * trained BPE merge table (Sennrich et al. 2016 §3.2 — the inference
   * counterpart of [[graft.operators.Corpus.bpePairCounts]], whose top
   * pairs ARE this table's rows) to a document's whitespace tokens: each
   * word starts as its character sequence; the lowest-INDEX merge rule
   * whose pair occurs anywhere in the word is applied to ALL its
   * occurrences left-to-right, repeatedly, until no rule applies (the
   * reference algorithm's priority loop); the document's subword
   * sequence is the concatenation over words. `merges` is an ordered
   * `"a b"` pair list — a trained artifact, passed as a foldable
   * literal (driver-resident like the k-means centers; the corpus never
   * holds it). Output: `array<string>` subwords, document order.
   *
   * Left-to-right within one rule means a merged pair cannot overlap
   * its own left neighbor in the same pass (`"aaa"` under rule `a a` →
   * `["aa","a"]`), matching the reference implementation. Pure per-row
   * projection — rides the scan, no shuffle. Interpreted eval only
   * (CodegenFallback): the per-word loop dominates.
   */
  case class BpeApply(tokens: Expression, merges: Seq[String])
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def child: Expression = tokens
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "bpe_apply"
    // rule priority: pair -> first (lowest) index
    private val rank: Map[(String, String), Int] = {
      val m = scala.collection.mutable.Map.empty[(String, String), Int]
      merges.iterator.zipWithIndex.foreach { case (r, i) =>
        val sp = r.indexOf(' ')
        require(sp > 0 && sp < r.length - 1, s"merge rule '$r' is not 'a b'")
        val key = (r.substring(0, sp), r.substring(sp + 1))
        if (!m.contains(key)) m(key) = i
      }
      m.toMap
    }
    private def encodeWord(w: String): Seq[String] = {
      var syms: Vector[String] = w.map(_.toString).toVector
      var done = syms.length < 2
      while (!done) {
        // lowest-priority-index pair present in the word
        var best = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          rank.get((syms(i), syms(i + 1))).foreach(r => if (r < best) best = r)
          i += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          val (a, b) = {
            val r = merges(best); val sp = r.indexOf(' ')
            (r.substring(0, sp), r.substring(sp + 1))
          }
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
              out += a + b; j += 2 // left-to-right, no overlap within a pass
            } else { out += syms(j); j += 1 }
          }
          syms = out.result()
          if (syms.length < 2) done = true
        }
      }
      syms
    }
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.unsafe.types.UTF8String]
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val w = arr.getUTF8String(i).toString
          if (w.nonEmpty)
            encodeWord(w).foreach(s =>
              out += org.apache.spark.unsafe.types.UTF8String.fromString(s))
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[Any])
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(tokens = c)
  }

  /**
   * `pq_encode(code array<int>, cb_flat array<int>, m, ks)` — product-
   * quantization encode (q56) in ONE primitive pass: per subspace `j`
   * the FIRST codebook index minimizing the exact integer L2 between the
   * row's j-th subvector and entry `cb[j][c]` (ties → smallest c, the
   * `array_position`-first-hit rule). `cb_flat` is the m×ks×sub codebook
   * flattened row-major (`cb[((j·ks)+c)·sub + i]`) as a foldable
   * literal — it lives on the driver like the k-means centers, the
   * corpus never does. Bit-identical to the column-algebra form kept as
   * [[graft.operators.Similarity.pqEncodeSpec]] (property-tested): that
   * form dispatched m·ks interpreted zip_with/aggregate lambdas with two
   * nested element_at derefs PER ELEMENT; this is m·ks·sub integer ops.
   * Interpreted eval only (CodegenFallback): the arithmetic is trivial
   * per row and the expression sits outside the join's hot loop.
   */
  case class PqEncode(code: Expression, cbFlat: Array[Int], m: Int, ks: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(m >= 1 && ks >= 1 && cbFlat.length % (m * ks) == 0,
      s"codebook length ${cbFlat.length} must be m*ks*sub")
    private val sub = cbFlat.length / (m * ks)
    override def child: Expression = code
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "pq_encode"
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      require(arr.numElements() == m * sub,
        s"code length ${arr.numElements()} != dim ${m * sub}")
      val x = arr.toIntArray()
      val out = new Array[Int](m)
      var j = 0
      while (j < m) {
        var bestC = 0
        var bestD = Long.MaxValue
        var c = 0
        while (c < ks) {
          val base = ((j * ks) + c) * sub
          var d = 0L
          var i = 0
          while (i < sub) {
            val diff = (x(j * sub + i) - cbFlat(base + i)).toLong
            d += diff * diff
            i += 1
          }
          if (d < bestD) { bestD = d; bestC = c } // strict < keeps FIRST min
          c += 1
        }
        out(j) = bestC
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(code = c)
  }

  /**
   * `shingles_sorted(tokens array<string>, n)` — the SORTED, DISTINCT
   * n-gram shingle array of a token list in ONE primitive pass: every
   * window's text is assembled once into a byte buffer (tokens joined by
   * `' '`), interned into a `TreeSet[UTF8String]` (binary order — the
   * UTF8_BINARY collation `array_sort` uses), and emitted ascending.
   * Bit-identical to the column-algebra form
   * `array_sort(array_distinct(transform(sequence(1, len-n+1),
   *    i => concat_ws(' ', slice(t, i, n)))))`
   * with [[graft.operators.TextOps.shingles]]'s short-doc branch (len < n
   * ⇒ ONE whole-doc gram) — kept as
   * [[graft.operators.Dedup.shingleArrSpec]], the property-tested
   * reference. The HOF form dispatched an interpreted lambda per window,
   * allocated a slice array + concat_ws per window, then paid
   * array_distinct's hash set AND array_sort's copy on top. Null-token
   * parity with concat_ws (skip) is kept, though the upstream tokenizer
   * never emits null. Interpreted eval only (CodegenFallback): the byte
   * assembly + tree insert dominate, not the dispatch.
   */
  case class ShinglesSorted(tokens: Expression, n: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(n >= 1, "shingle width must be >= 1 token")
    override def child: Expression = tokens
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "shingles_sorted"
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val len = arr.numElements()
      val toks = new Array[Array[Byte]](len)
      var i = 0
      while (i < len) {
        toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
        i += 1
      }
      def windowString(from: Int, width: Int): UTF8String = {
        var total = 0
        var cnt = 0
        var k = 0
        while (k < width) {
          val t = toks(from + k)
          if (t != null) { total += t.length; cnt += 1 }
          k += 1
        }
        if (cnt > 1) total += cnt - 1 // separators
        val buf = new Array[Byte](total)
        var off = 0
        var first = true
        k = 0
        while (k < width) {
          val t = toks(from + k)
          if (t != null) { // concat_ws skips null elements
            if (!first) { buf(off) = ' '.toByte; off += 1 }
            System.arraycopy(t, 0, buf, off, t.length)
            off += t.length
            first = false
          }
          k += 1
        }
        UTF8String.fromBytes(buf)
      }
      val set = new java.util.TreeSet[UTF8String]()
      if (len >= n) {
        var s = 0
        while (s + n <= len) { set.add(windowString(s, n)); s += 1 }
      } else {
        set.add(windowString(0, len)) // whole-doc gram (short-doc branch)
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        set.toArray.asInstanceOf[Array[AnyRef]])
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(tokens = c)
  }

  /**
   * `sign_buckets_md5(vec array<float|double>, tables, planesPerTable)` —
   * all `tables` sign-LSH bucket keys of one embedding in ONE primitive
   * pass over the md5-derived ±1 plane matrix
   * ([[graft.operators.Similarity.md5PlaneMatrix]], recomputed here from
   * (plane, dim) — the matrix is a pure function of the shape, so the
   * buckets stay exactly the ones the q27/q29 DuckDB oracles rebuild in
   * SQL). Bit-identical to the column-algebra form
   * [[graft.operators.Similarity.signBucketsLit]] (property-tested): per
   * plane `proj = aggregate(zip_with(vec, planeVec, x*w), 0.0, +)` — a
   * left-to-right double fold in index order, reproduced here as an
   * ascending `+=` loop — bit `p` of table `t` set iff `proj > 0`.
   *
   * The HOF form dispatched tables×planes×dims interpreted lambdas and
   * allocated a fresh dims-element products array PER PLANE per row
   * (~120 allocations/row at q27's 12×10 shape) — the same tax profile
   * `minhash_sig`/`simhash60` removed from q25/q28; it dominated q27/q29.
   *
   * Null semantics match the HOF fold: null array → null; a null ELEMENT
   * poisons every projection at once (null product through the fold),
   * after which `when(proj > 0, …).otherwise(0)` emits 0 for every bit →
   * all-zero buckets. Assumes uniform dims across rows (the embeddings
   * table contract); the per-instance matrix cache rebuilds if dims ever
   * changes. Interpreted eval only (CodegenFallback): the dims-length
   * fused multiply-add loop dominates, not the dispatch.
   */
  case class SignBucketsMd5(vec: Expression, tables: Int, planesPerTable: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def child: Expression = vec
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "sign_buckets_md5"
    private lazy val vecIsFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    // one immutable (dims, flattened planes×dims matrix) pair — a racing
    // re-init computes the identical array, and a single reference write
    // is atomic, so no synchronization is needed
    @transient private var cache: (Int, Array[Double]) = _
    private def flatMatrix(dims: Int): Array[Double] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val planes = tables * planesPerTable
      val m = new Array[Double](planes * dims)
      var p = 0
      while (p < planes) {
        var j = 0
        while (j < dims) {
          val h = md.digest(s"plane:$p:$j"
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          m(p * dims + j) = if ((h(0) & 1) == 0) 1.0 else -1.0
          j += 1
        }
        p += 1
      }
      m
    }
    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val dims = x.numElements()
      var c = cache
      if (c == null || c._1 != dims) { c = (dims, flatMatrix(dims)); cache = c }
      val m = c._2
      var i = 0
      while (i < dims) {
        if (x.isNullAt(i)) // null element ⇒ every proj null ⇒ every bit 0
          return new org.apache.spark.sql.catalyst.util.GenericArrayData(
            new Array[Long](tables))
        i += 1
      }
      val out = new Array[Long](tables)
      var t = 0
      var base = 0
      while (t < tables) {
        var bucket = 0L
        var p = 0
        while (p < planesPerTable) {
          var proj = 0.0
          var j = 0
          while (j < dims) {
            val xj = if (vecIsFloat) x.getFloat(j).toDouble else x.getDouble(j)
            proj += xj * m(base + j)
            j += 1
          }
          if (proj > 0) bucket |= 1L << p
          p += 1
          base += dims
        }
        out(t) = bucket
        t += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(vec = c)
  }

  /** Register all custom functions for SQL + `call_function` use. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("etld1", es => Etld1(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("public_suffix", es => PublicSuffix(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("resolve_url", es => ResolveUrl(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("url_host", es => UrlHost(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("sniff_mime", es => SniffMime(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("robots_allowed", es => RobotsAllowed(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("gzip_size", es => GzipSize(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("jaccard_sorted",
      es => JaccardSorted(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_sig",
      es => MinhashSig(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_sim",
      es => CosineSim(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("simhash60",
      es => Simhash60(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("shingles_sorted",
      es => ShinglesSorted(es(0),
        es(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Int]),
      "scala_udf")
    reg.createOrReplaceTempFunction("md5_window_hashes",
      es => Md5WindowHashes(es(0),
        es(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Int]),
      "scala_udf")
    reg.createOrReplaceTempFunction("md5_gram_buckets",
      es => Md5GramBuckets(es(0),
        es(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Int],
        es(2).eval(org.apache.spark.sql.catalyst.InternalRow.empty).toString),
      "scala_udf")
    reg.createOrReplaceTempFunction("bpe_apply",
      es => BpeApply(es(0),
        es(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
          .map(_.toString).toSeq),
      "scala_udf")
    reg.createOrReplaceTempFunction("pq_encode",
      es => PqEncode(es(0),
        es(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray(),
        es(2).eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Int],
        es(3).eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Int]),
      "scala_udf")
    reg.createOrReplaceTempFunction("sign_buckets_md5",
      es => SignBucketsMd5(es(0),
        es(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Int],
        es(2).eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Int]),
      "scala_udf")
  }

  // Column-API wrappers (require register(spark) once per session)
  def etld1(c: Column): Column = call_function("etld1", c)
  def public_suffix(c: Column): Column = call_function("public_suffix", c)
  def resolve_url(base: Column, href: Column): Column = call_function("resolve_url", base, href)
  def url_host(c: Column): Column = call_function("url_host", c)
  def sniff_mime(c: Column): Column = call_function("sniff_mime", c)
  def robots_allowed(c: Column): Column = call_function("robots_allowed", c)
  def gzip_size(c: Column): Column = call_function("gzip_size", c)
  def jaccard_sorted(a: Column, b: Column): Column = call_function("jaccard_sorted", a, b)
  def minhash_sig(sh: Column, n: Column): Column = call_function("minhash_sig", sh, n)
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def simhash60(tokens: Column): Column = call_function("simhash60", tokens)
  def shingles_sorted(tokens: Column, n: Int): Column =
    call_function("shingles_sorted", tokens,
      org.apache.spark.sql.functions.lit(n))
  def md5_window_hashes(tokens: Column, w: Int): Column =
    call_function("md5_window_hashes", tokens,
      org.apache.spark.sql.functions.lit(w))
  def md5_gram_buckets(tokens: Column, buckets: Int, prefix: String): Column =
    call_function("md5_gram_buckets", tokens,
      org.apache.spark.sql.functions.lit(buckets),
      org.apache.spark.sql.functions.lit(prefix))
  def bpe_apply(tokens: Column, merges: Seq[String]): Column =
    call_function("bpe_apply", tokens,
      org.apache.spark.sql.functions.typedlit(merges))
  def pq_encode(code: Column, cbFlat: Seq[Int], m: Int, ks: Int): Column =
    call_function("pq_encode", code,
      org.apache.spark.sql.functions.typedlit(cbFlat),
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(ks))
  def sign_buckets_md5(vec: Column, tables: Int, planesPerTable: Int): Column =
    call_function("sign_buckets_md5", vec,
      org.apache.spark.sql.functions.lit(tables),
      org.apache.spark.sql.functions.lit(planesPerTable))
}
