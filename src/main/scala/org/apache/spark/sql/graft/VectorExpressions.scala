// Lives inside the org.apache.spark.sql namespace because the Column <->
// Expression bridge (classic.ExpressionUtils) and AbstractDataType are
// private[sql] — the standard placement for Catalyst extension libraries.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BooleanType, DataType, DoubleType, LongType}

/** Custom Catalyst expressions for the vector-similarity hot path
  * (builder-prompt extension preference (b): a native `Expression` with
  * `doGenCode` beats composed higher-order functions, which Spark
  * interprets per element).
  *
  * `cosine_similarity(a, b)`: single fused loop over both arrays computing
  * dot product and both norms — one pass, no intermediate arrays, inside
  * whole-stage codegen. The accumulation order (ascending index, separate
  * dot/norm accumulators) is EXACTLY the order the SQL-composed form and
  * the DuckDB oracle use, so results are bit-identical to both.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `dot_product(a, b)` — same fused-loop treatment for raw projections
  * (used by LSH bucketing where only the sign matters). */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $dot += $a.getDouble($i) * $b.getDouble($i); }
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `signature_agreement(a, b)` — positions where two fixed-length hash
  * signatures agree (array<long>), the MinHash similarity estimator's
  * numerator. Replaces `size(filter(zip_with(a, b, _ === _), x => x))`
  * on the LSH verify path: higher-order lambdas are INTERPRETED and the
  * composed form lands inside the candidate join's predicate — the
  * ScaleProbe thread dumps showed every worker in ArrayFilter.eval at
  * 150k docs. One codegen'd loop, no intermediate arrays; identical
  * semantics (equal positions over the common prefix; both inputs are
  * length-k here, and a null element — impossible for minhash output —
  * counts as disagreement, exactly like the null-dropping filter). */
case class SignatureAgreement(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{IntegerType, LongType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "signature_agreement"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var agree = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
        agree += 1
      i += 1
    }
    agree
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val agree = ctx.freshName("agree")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $agree = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) $agree++;
         |}
         |${ev.value} = $agree;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `phrase_start_count(rows)` — the phrase-serving verify fold in ONE
  * codegen call (r18 optimization round): given the collected
  * `(off, positions)` rows of a (query, doc) group — `positions` the
  * ascending token positions of the phrase's off-th term in the doc —
  * returns |∩_i { p − off_i : p ∈ positions_i }|, the number of valid
  * phrase start positions. Replaces the interpreted
  * `transform(positions, p − off)` per joined row plus the
  * `aggregate(collect_list(...), array_intersect)` fold: higher-order
  * lambdas evaluate per element with zero codegen, and this fold sits on
  * the phrase gate's hottest aggregate. Semantics identical
  * (positions are distinct per (term, doc) construction and sorted by
  * the index layout, so the shifted arrays stay sorted and the m-way
  * two-pointer merge computes exactly the old intersection's size;
  * PhraseFoldParity in RetrievalSpec pins equality). Empty input → 0. */
case class PhraseStartCount(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{IntegerType, StructType, StructField}

  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(StructType(Seq(
      StructField("off", IntegerType),
      StructField("positions", ArrayType(IntegerType))))))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "phrase_start_count"

  override def nullSafeEval(a: Any): Any =
    PhraseStartCount.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.PhraseStartCount.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PhraseStartCount {
  /** Static helper shared by eval and codegen. Intersects the shifted
    * position lists pairwise with a two-pointer merge over the sorted
    * arrays — O(Σ lengths), no boxing, no intermediate ArrayData. */
  def compute(rows: ArrayData): Int = {
    val m = rows.numElements()
    if (m == 0) return 0
    // current intersection, shifted; starts as the first row's shifts
    var acc: Array[Int] = null
    var i = 0
    while (i < m) {
      if (rows.isNullAt(i)) return 0
      val row = rows.getStruct(i, 2)
      if (row.isNullAt(0) || row.isNullAt(1)) return 0
      val off = row.getInt(0)
      val pos = row.getArray(1)
      val n = pos.numElements()
      if (acc == null) {
        acc = new Array[Int](n)
        var j = 0
        while (j < n) { acc(j) = pos.getInt(j) - off; j += 1 }
      } else {
        // two-pointer intersect: both sides ascending
        val next = new Array[Int](math.min(acc.length, n))
        var a = 0; var b = 0; var w = 0
        while (a < acc.length && b < n) {
          val pv = pos.getInt(b) - off
          if (acc(a) == pv) { next(w) = acc(a); w += 1; a += 1; b += 1 }
          else if (acc(a) < pv) a += 1
          else b += 1
        }
        acc = java.util.Arrays.copyOf(next, w)
      }
      if (acc.length == 0) return 0
      i += 1
    }
    acc.length
  }
}

object VectorExpressions {
  /** Column-API entry points. */
  def cosineSimilarity(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def signatureAgreement(a: Column, b: Column): Column =
    ExpressionUtils.column(SignatureAgreement(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def phraseStartCount(rows: Column): Column =
    ExpressionUtils.column(PhraseStartCount(ExpressionUtils.expression(rows)))

  def minhashSignature(text: Column, shingleLen: Int, k: Int): Column =
    ExpressionUtils.column(MinhashSignature(
      ExpressionUtils.expression(text), shingleLen, k))

  def simhashSignature(text: Column): Column =
    ExpressionUtils.column(SimhashSignature(ExpressionUtils.expression(text)))

  def repetitionStats(text: Column): Column =
    ExpressionUtils.column(RepetitionStats(ExpressionUtils.expression(text)))

  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    ExpressionUtils.column(BpeTokenCount(ExpressionUtils.expression(text), merges))

  def wordShingles(text: Column, n: Int, distinct: Boolean): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(text), n, distinct))

  def termCounts(tokens: Column): Column =
    ExpressionUtils.column(TermCounts(ExpressionUtils.expression(tokens)))

  def termPositions(tokens: Column): Column =
    ExpressionUtils.column(TermPositions(ExpressionUtils.expression(tokens)))

  def dsirFeatureBuckets(text: Column, nBuckets: Int): Column =
    ExpressionUtils.column(DsirFeatureBuckets(ExpressionUtils.expression(text), nBuckets))

  def ivfCellRanks(v: Column, cellIds: Array[Int], centroids: Array[Array[Double]],
                   nProbe: Int): Column =
    ExpressionUtils.column(IvfCellRanks(
      ExpressionUtils.expression(v), cellIds, centroids, nProbe))

  def stopwordScores(text: Column): Column =
    ExpressionUtils.column(StopwordScores(ExpressionUtils.expression(text)))

  def languageId(text: Column): Column =
    ExpressionUtils.column(LanguageIdExpr(ExpressionUtils.expression(text)))

  def textStats(text: Column): Column =
    ExpressionUtils.column(TextStats(ExpressionUtils.expression(text)))

  def normalizeText(text: Column): Column =
    ExpressionUtils.column(NormalizeText(ExpressionUtils.expression(text)))

  def l2DistanceSq(a: Column, b: Column): Column =
    ExpressionUtils.column(L2DistanceSq(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def exciseWindows(text: Column, starts: Column, n: Int): Column =
    ExpressionUtils.column(ExciseWindows(
      ExpressionUtils.expression(text), ExpressionUtils.expression(starts), n))

  def bloomMightContainLong(key: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    ExpressionUtils.column(BloomMightContainLong(
      ExpressionUtils.expression(key), bloom))

  def quantileBin(v: Column, cuts: Array[Double]): Column =
    ExpressionUtils.column(QuantileBin(ExpressionUtils.expression(v), cuts))

  def zInterleave(bins: Column, bits: Int): Column =
    ExpressionUtils.column(ZInterleave(ExpressionUtils.expression(bins), bits))

  def sq8Encode(vec: Column, lo: Array[Double], span: Array[Double]): Column =
    ExpressionUtils.column(Sq8Encode(ExpressionUtils.expression(vec), lo, span))

  def sq8AdcDistanceSq(q: Column, codes: Column,
                       lo: Array[Double], span: Array[Double]): Column =
    ExpressionUtils.column(Sq8AdcDistanceSq(
      ExpressionUtils.expression(q), ExpressionUtils.expression(codes), lo, span))

  /** Register both for SQL use: `SELECT cosine_similarity(a, b)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    registry.createOrReplaceTempFunction("cosine_similarity",
      exprs => CosineSimilarity(exprs.head, exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("dot_product",
      exprs => DotProduct(exprs.head, exprs(1)), "built-in")
  }
}

/** `bloom_might_contain_long(key)` — membership probe against a
  * broadcast Bloom artifact (r12): the ingest PRE-FILTER that lets
  * definite-new content skip the fingerprint-store join entirely. The
  * filter object rides the expression instance via `addReferenceObj`
  * (the IVF-centroid/BPE-merges pattern — O(1) plan and codegen size at
  * any filter size); `stringArgs` hides the blob from explain. No false
  * negatives by Bloom construction, so a verify step behind it is
  * output-identical to the unfiltered form (Dedup.exactIncrementalBloom
  * parity). */
case class BloomMightContainLong(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain_long"
  // keep the serialized filter out of explain/toString
  override def stringArgs: Iterator[Any] = Iterator(child, s"bloom(${bloom.bitSize()} bits)")

  override def nullSafeEval(k: Any): Any =
    bloom.mightContainLong(k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, k => s"${ev.value} = $ref.mightContainLong($k);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `quantile_bin(v)` — rank a double into the bin defined by a sorted
  * boundary table (bin = count of boundaries ≤ v, binary search): the
  * per-column step of Z-order clustering, mapping a skewed value
  * distribution onto near-uniform bin occupancy so interleaved bits
  * carry real locality. Boundaries ride the expression as a plan
  * constant (the [[IvfCellRanks]] pattern). */
case class QuantileBin(child: Expression, cuts: Array[Double])
  extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.IntegerType

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "quantile_bin"
  override def stringArgs: Iterator[Any] = Iterator(child, s"cuts=${cuts.length}")

  override def nullSafeEval(v: Any): Any = bin(v.asInstanceOf[Double])

  def bin(v: Double): Int = {
    var lo = 0; var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cuts(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qbin", this, classOf[QuantileBin].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.bin($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `z_interleave(bins)` — Morton code: interleave the low `bits` bits of
  * each bin in the input array into one long, so a range sort on the
  * result gives every participating column locality (the Z-ORDER curve
  * of Delta/Iceberg OPTIMIZE, public). Bit b of column i lands at
  * position b·ncols + (ncols−1−i): earlier columns take the more
  * significant interleaved positions. */
case class ZInterleave(child: Expression, bits: Int)
  extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.IntegerType

  require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def prettyName: String = "z_interleave"

  override def nullSafeEval(v: Any): Any = z(v.asInstanceOf[ArrayData])

  def z(bins: ArrayData): Long = {
    val k = bins.numElements()
    // JVM long shifts wrap mod 64 — past 64 interleaved bits the key
    // silently collides bit-planes, so fail loud instead
    if (bits * k > 64)
      throw new IllegalArgumentException(
        s"z_interleave: $k columns at $bits bits exceed one 64-bit key")
    var out = 0L
    var b = 0
    while (b < bits) {
      var i = 0
      while (i < k) {
        val bit = (bins.getInt(i) >> b) & 1
        out |= bit.toLong << (b * k + (k - 1 - i))
        i += 1
      }
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("zint", this, classOf[ZInterleave].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.z($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `sq8_encode(vec)` — scalar (per-dimension) 8-bit quantization: the
  * memory tier between raw floats and PQ (8× compression at full
  * dimensional resolution, vs PQ's 32× at subspace resolution — the
  * standard SQ8 layout every public ANN library ships alongside PQ).
  * code[d] = ⌊(x[d] − lo[d]) / span[d] · 256⌋ clamped to [0, 255];
  * degenerate dims (span ≤ 0) encode 0. The per-dim bounds ride the
  * expression instance (the [[IvfCellRanks]] plan-constant pattern);
  * arithmetic order is pinned — (x − lo) / span · 256, floor, clamp —
  * so an external engine replays codes bit-for-bit. */
case class Sq8Encode(child: Expression, lo: Array[Double], span: Array[Double])
  extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.IntegerType

  require(lo.length == span.length, "lo and span must align")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "sq8_encode"
  override def stringArgs: Iterator[Any] = Iterator(child, s"dims=${lo.length}")

  override def nullSafeEval(v: Any): Any = encode(v.asInstanceOf[ArrayData])

  def encode(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), lo.length)
    val out = new Array[Int](n)
    var d = 0
    while (d < n) {
      if (span(d) > 0) {
        val c = math.floor((v.getDouble(d) - lo(d)) / span(d) * 256.0).toInt
        out(d) = if (c < 0) 0 else if (c > 255) 255 else c
      }
      d += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8enc", this, classOf[Sq8Encode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `sq8_adc_distance_sq(q, codes)` — asymmetric squared L2 between a raw
  * query vector and an SQ8-encoded corpus vector: each code reconstructs
  * to its cell midpoint lo[d] + (code[d] + 0.5) · span[d] / 256 and the
  * fused loop accumulates (q[d] − r)² in ascending dimension order (the
  * [[CosineSimilarity]] order contract, so the oracle replays it
  * exactly). One pass, no reconstructed array materialized. */
case class Sq8AdcDistanceSq(left: Expression, right: Expression,
                            lo: Array[Double], span: Array[Double])
  extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.IntegerType

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_adc_distance_sq"
  override def stringArgs: Iterator[Any] = Iterator(left, right, s"dims=${lo.length}")

  override def nullSafeEval(q: Any, c: Any): Any =
    dist(q.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  def dist(q: ArrayData, codes: ArrayData): Double = {
    val n = math.min(math.min(q.numElements(), codes.numElements()), lo.length)
    var acc = 0.0
    var d = 0
    while (d < n) {
      val r = lo(d) + (codes.getInt(d) + 0.5) * span(d) / 256.0
      val t = q.getDouble(d) - r
      acc += t * t
      d += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8adc", this, classOf[Sq8AdcDistanceSq].getName)
    nullSafeCodeGen(ctx, ev, (q, c) => s"${ev.value} = $ref.dist($q, $c);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `minhash_signature(text)` — the whole MinHash signature (k affine mins
  * over md5-derived 28-bit char-shingle hashes) as ONE fused pass per
  * document, replacing the relational explode → k-min aggregate → join
  * pipeline (measured as ~50% of minhash_lsh_pairs wall at 50k docs:
  * the per-shingle rows exist only to be aggregated away). Semantics are
  * BIT-IDENTICAL to the relational form and the DuckDB oracle: same
  * 1-based character positions (UTF8String.substring is codepoint-based,
  * like Spark's substr and DuckDB's substr), same md5-prefix hash (first
  * 7 hex nibbles), same (2i+1)·h + 1000003·(i+1) mod (2³¹−1) mins, same
  * 2147483647 sentinel for shingle-less documents. Codegen emits one
  * static call per row; the loop body is plain JIT-compiled Java. */
case class MinhashSignature(child: Expression, shingleLen: Int, k: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{LongType, StringType}

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(t: Any): Any =
    MinhashSignature.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      shingleLen, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.MinhashSignature.compute($c, $shingleLen, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MD5 hex-prefix hashing shared by the minhash, simhash and DSIR
  * kernels. One digest and one 16-byte output buffer per thread, so a
  * call allocates nothing: an array per `digest()` call is tens of
  * millions of allocations per corpus-sized signature build. */
private object Md5Prefix {
  private final class State {
    val md: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val state = ThreadLocal.withInitial(
    new java.util.function.Supplier[State] {
      override def get(): State = new State
    })

  /** The first `nibbles` (≤ 15) hex digits of md5 over `len` bytes at
    * `off`, as a non-negative long — identical to
    * conv(substring(md5(s), 1, nibbles), 16, 10). */
  def prefix(bytes: Array[Byte], off: Int, len: Int, nibbles: Int): Long = {
    val s = state.get()
    s.md.update(bytes, off, len)
    s.md.digest(s.out, 0, 16) // also resets the digest
    val d = s.out
    var h = 0L
    var i = 0
    while (i < nibbles / 2) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    if ((nibbles & 1) == 1) h = (h << 4) | ((d(i) & 0xf0L) >>> 4)
    h
  }
}

object MinhashSignature {
  val Prime: Long = graft.ops.Dedup.MinhashPrime

  /** Direct-mapped EXACT shingle→hash cache (r18): character shingles
    * are Zipf-distributed, so a small per-thread cache skips the md5
    * for the overwhelmingly-common windows. Keys pack the window's
    * UTF-8 bytes (≤ 7 bytes — the ASCII shingle case) plus the length
    * into one long, so a hit is provably the same byte string; longer
    * (multibyte) windows bypass the cache. 2^16 entries ≈ 0.75 MB per
    * task thread; eviction is overwrite (a stale entry is simply
    * recomputed next time). Values are the 28-bit md5-prefix hash —
    * bit-identical to the uncached path by construction. */
  private final class ShingleCache {
    val keys = new Array[Long](1 << 16)
    val vals = new Array[Int](1 << 16)
  }

  private val cache = ThreadLocal.withInitial(
    new java.util.function.Supplier[ShingleCache] {
      override def get(): ShingleCache = new ShingleCache
    })

  /** 28-bit md5-prefix hash of `len` bytes at `off` — identical to
    * conv(substring(md5(s), 1, 7), 16, 10). */
  private def md5h28(bytes: Array[Byte], off: Int, len: Int): Int =
    Md5Prefix.prefix(bytes, off, len, 7).toInt

  /** Static helper shared by eval and codegen.
    *
    * Windows slide over PRECOMPUTED codepoint byte offsets:
    * UTF8String.substring(i, j) rescans from byte 0 on every call
    * (O(position)), which made the first fused version O(len²) per
    * document and measurably SLOWER than the relational pipeline it
    * replaced. One offsets pass + md5 over the in-place byte slice is
    * O(len · md5) total — and hashing the byte slice is definitionally
    * identical to hashing the substring's UTF-8 encoding.
    *
    * The k affine mins ride an INCREMENTAL chain (r18 optimization
    * round): coefficients step uniformly (a by 2, b by 1000003), so
    * v_{j+1} = (v_j + 2h + 1000003) mod (2³¹−1) — one add and one
    * conditional subtract per position instead of a 64-bit multiply +
    * modulo. Exact by induction: v_0 = h + 1000003 < 2³¹−1 (h < 2²⁸),
    * the step is < 2³¹−1, and each partial sum < 2·(2³¹−1) reduces with
    * a single subtract. MinhashParitySpec pins bit-equality against the
    * retained relational form (and therefore the DuckDB oracle). */
  def compute(text: org.apache.spark.unsafe.types.UTF8String,
              shingleLen: Int, k: Int): ArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Prime)
    val bytes = text.getBytes
    // byte offset of each codepoint start, plus the terminal offset
    val nBytes = bytes.length
    var nChars = 0
    var b = 0
    val offsets = new Array[Int](nBytes + 1)
    while (b < nBytes) {
      offsets(nChars) = b
      b += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(b))
      nChars += 1
    }
    offsets(nChars) = nBytes
    val last = nChars - shingleLen
    if (last >= 0) {
      val c = cache.get()
      val keys = c.keys; val vals = c.vals
      var i = 0
      while (i <= last) {
        val off = offsets(i)
        val len = offsets(i + shingleLen) - off
        var h = 0
        if (len <= 7) {
          // pack length + bytes into the exact-match cache key (length
          // in the top bits disambiguates prefixes; key is never 0)
          var key = len.toLong
          var p = 0
          while (p < len) { key = (key << 8) | (bytes(off + p) & 0xffL); p += 1 }
          val idx = ((key * -0x61c8864680b583ebL) >>> 48).toInt & 0xffff
          if (keys(idx) == key) h = vals(idx)
          else {
            h = md5h28(bytes, off, len)
            keys(idx) = key; vals(idx) = h
          }
        } else h = md5h28(bytes, off, len)
        // incremental affine chain over Dedup.minhashCoefA/B's uniform
        // steps — the single source of truth the relational reference
        // and the DuckDB oracle share
        var v = h + 1000003L // (2·0+1)·h + 1000003·1, already < Prime
        val step0 = 2L * h + 1000003L
        val step = if (step0 >= Prime) step0 - Prime else step0
        var j = 0
        while (j < k) {
          if (v < mins(j)) mins(j) = v
          v += step
          if (v >= Prime) v -= Prime
          j += 1
        }
        i += 1
      }
    }
    ArrayData.toArrayData(mins)
  }
}

/** `simhash_signature(text)` — the 60-bit SimHash in ONE pass per
  * document: tokenize (identical semantics to TextAnalysis.tokens —
  * space-only trim, `\s+` split via the same java.util.regex path
  * Spark's split uses, empty-trimmed → no tokens), distinct, md5 each
  * token to a 60-bit hash (first 15 hex nibbles), per-bit majority.
  * Replaces the relational explode → packed-lane aggregate → fold
  * pipeline; SimhashParitySpec pins bit-equality against it (and
  * therefore against the unchanged DuckDB oracle). Token-less documents
  * fold to signature 0, like the relational left-join coalesce. */
case class SimhashSignature(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{LongType, StringType}

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_signature"

  override def nullSafeEval(t: Any): Any =
    SimhashSignature.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.SimhashSignature.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashSignature {
  private val Bits = 60

  /** Direct-mapped EXACT token→hash cache (r18 optimization round):
    * tokens are Zipf-distributed, so a per-thread cache skips the UTF-8
    * encode + md5 for the overwhelmingly-common words. Keys are the
    * token STRINGS (reference + equals check — provably the same token
    * on hit); 2^16 entries per task thread, overwrite eviction. Values
    * are the 60-bit md5-prefix hash — bit-identical to the uncached
    * path by construction. */
  private final class TokenCache {
    val keys = new Array[String](1 << 16)
    val vals = new Array[Long](1 << 16)
  }
  private val cache = ThreadLocal.withInitial(
    new java.util.function.Supplier[TokenCache] {
      override def get(): TokenCache = new TokenCache
    })

  def compute(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val toks = TokenizerUtil.tokens(text)
    if (toks.isEmpty) return 0L // tokens('') → [] → signature 0
    val seen = new java.util.HashSet[String]()
    val counts = new Array[Int](Bits)
    var n = 0
    val c = cache.get()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        n += 1
        val idx = (t.hashCode * -1640531527) >>> 16 // Fibonacci spread
        var h = 0L
        val ck = c.keys(idx)
        if (ck != null && (ck.eq(t) || ck == t)) h = c.vals(idx)
        else {
          // first 15 md5 hex nibbles as a 60-bit value — identical to
          // conv(substring(md5(t), 1, 15), 16, 10)
          val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          h = Md5Prefix.prefix(bytes, 0, bytes.length, Bits / 4)
          c.keys(idx) = t; c.vals(idx) = h
        }
        var b = 0
        while (b < Bits) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
      }
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < Bits) { if (2 * counts(b) > n) sh |= (1L << b); b += 1 }
    sh
  }
}

/** `word_shingles(text, n)` — word n-grams (space-joined) in one pass:
  * tokenize (identical semantics to TextAnalysis.tokens via the same
  * java.util.regex split path), slide the window, optionally distinct
  * (first-occurrence order, like array_distinct). Replaces the
  * interpreted transform-lambda shingle builders on the n-gram Jaccard /
  * decontamination / repetition paths — higher-order functions evaluate
  * per element with no codegen, and shingling is those operators'
  * per-row hot loop. WordShinglesParity in MinhashParitySpec pins
  * equality with the HOF form. */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{StringType}

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(t: Any): Any =
    WordShingles.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.WordShingles.compute($c, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  def compute(text: org.apache.spark.unsafe.types.UTF8String,
              n: Int, distinct: Boolean): ArrayData = {
    val toks = TokenizerUtil.tokens(text)
    val count = toks.length - (n - 1)
    if (count <= 0)
      return ArrayData.toArrayData(Array.empty[org.apache.spark.unsafe.types.UTF8String])
    val out = new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String](count)
    val seen = if (distinct) new java.util.HashSet[String]() else null
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val sh = sb.toString
      if (seen == null || seen.add(sh))
        out.add(org.apache.spark.unsafe.types.UTF8String.fromString(sh))
      i += 1
    }
    ArrayData.toArrayData(out.toArray(
      new Array[org.apache.spark.unsafe.types.UTF8String](out.size())))
  }
}

/** `term_counts(tokens)` — per-document term frequencies in one pass:
  * array<struct<term, tf>> with terms in first-occurrence order. The
  * inverted-index builders group by (term, doc_id), and EVERY row of such
  * a group comes from a single document row — so the corpus-sized
  * hash-aggregate Exchange the groupBy pays is pure waste (guide §2.4,
  * remove shuffles outright): this expression computes the same
  * aggregation inside the scan task and an `explode` yields the posting
  * rows with zero data movement. Row-identity with the groupBy form is
  * pinned by IndexBuildParity (RetrievalSpec). */
case class TermCounts(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "term_counts"

  override def nullSafeEval(a: Any): Any =
    TermAgg.counts(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TermAgg.counts($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `term_positions(tokens)` — per-document positional postings in one
  * pass: array<struct<term, positions>> with terms in first-occurrence
  * order and 1-based positions ascending (token order), exactly the
  * `sort_array(collect_list(pos+1))` layout of the groupBy form it
  * replaces (positions within one document are strictly increasing, so
  * no sort is ever needed). Same shuffle-elimination rationale as
  * [[TermCounts]]; same parity pin. */
case class TermPositions(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("positions", ArrayType(IntegerType, containsNull = false),
      nullable = false))), containsNull = false)
  override def prettyName: String = "term_positions"

  override def nullSafeEval(a: Any): Any =
    TermAgg.positions(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TermAgg.positions($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `dsir_feature_buckets(text, nBuckets)` — the DSIR feature pipeline
  * fused into one pass (r19): unigram buckets then bigram buckets, each
  * `md5-28-bit-prefix(feature) mod nBuckets`, exactly the relational
  * `conv(substring(md5(f), 1, 7), 16, 10) % nBuckets` (the 28-bit
  * md5-prefix identity the minhash kernel pinned in r18). Replaces TWO
  * full scans of the corpus (a tokens explode unioned with a
  * word-shingles explode) and the per-feature md5→hex→substring→conv
  * string churn with one tokenize + one digest per feature.
  * DsirFeatureParity (DsirModelSpec) pins multiset equality per doc. */
case class DsirFeatureBuckets(child: Expression, nBuckets: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.StringType

  require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dsir_feature_buckets"

  override def nullSafeEval(t: Any): Any =
    DsirFeatureBuckets.compute(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], nBuckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.DsirFeatureBuckets.compute($c, $nBuckets);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DsirFeatureBuckets {
  /** 28-bit md5 prefix of the feature's UTF-8 bytes mod nBuckets —
    * identical to conv(substring(md5(f), 1, 7), 16, 10) % nBuckets
    * (non-negative, so long % matches). */
  private def bucket(feature: String, nBuckets: Int): Long = {
    val bytes = feature.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Md5Prefix.prefix(bytes, 0, bytes.length, 7) % nBuckets
  }

  def compute(text: org.apache.spark.unsafe.types.UTF8String,
              nBuckets: Int): ArrayData = {
    val toks = TokenizerUtil.tokens(text)
    val n = toks.length
    val out = new Array[Long](n + math.max(0, n - 1))
    var i = 0
    while (i < n) {
      out(i) = bucket(toks(i), nBuckets)
      i += 1
    }
    // bigrams: space-joined adjacent tokens, the WordShingles(2) law
    val sb = new java.lang.StringBuilder()
    i = 0
    while (i < n - 1) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1))
      out(n + i) = bucket(sb.toString, nBuckets)
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

object TermAgg {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  /** One-pass per-document term counting. UTF8String keys reference the
    * input buffer — valid for the duration of the call and copied by the
    * consuming projection, the standard slice-returning-expression
    * contract (TermAggParity in RetrievalSpec pins it). */
  def counts(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val map = new java.util.LinkedHashMap[UTF8String, Array[Long]](
      math.max(16, n * 2))
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val c = map.get(t)
      if (c == null) map.put(t, Array(1L)) else c(0) += 1L
      i += 1
    }
    val out = new Array[Any](map.size())
    val it = map.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass per-document positional aggregation; positions are 1-based
    * token indexes, ascending by construction. */
  def positions(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val map = new java.util.LinkedHashMap[UTF8String, IntBuf](
      math.max(16, n * 2))
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      var b = map.get(t)
      if (b == null) { b = new IntBuf; map.put(t, b) }
      b.add(i + 1)
      i += 1
    }
    val out = new Array[Any](map.size())
    val it = map.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(
        Array[Any](e.getKey, new GenericArrayData(e.getValue.result())))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Minimal growable int buffer (no boxing). */
  final class IntBuf {
    private var arr = new Array[Int](4)
    private var len = 0
    def add(v: Int): Unit = {
      if (len == arr.length) arr = java.util.Arrays.copyOf(arr, len * 2)
      arr(len) = v; len += 1
    }
    def result(): Array[Int] = java.util.Arrays.copyOf(arr, len)
  }
}

/** `ivf_cell_ranks(vec)` — the IVF coarse-quantizer assignment: the
  * `nProbe` nearest centroids (by 6-decimal-rounded cosine, ties → lower
  * cell id) among a centroid table carried as ONE plan constant.
  *
  * This replaces the literal-composed argmax (an `array_sort` over
  * `nCells` struct expressions, each embedding `dims` scalar literals):
  * that form's expression tree — and the generated Java — grew as
  * k × dims, which capped the quantizer at a few hundred cells (the one
  * `weak` left in the r8 scale audit). Here the matrix is a single
  * Array[Array[Double]] field on the expression object: O(1) expression
  * tree, O(1) generated code (one static-shaped call), and the k×dims
  * doubles ride the broadcast task binary exactly once per stage — the
  * same driver→executor footprint as a broadcast-join build side, with
  * none of the n×k row amplification or per-row shuffle a join-based
  * assignment would add. k ≈ 10⁴ cells (a 10⁹-vector IVF's √n regime at
  * realistic dims) is ~5–50 MB of task payload — routine broadcast size.
  *
  * Semantics are pinned to the relational reference form
  * (ParityReferences.cellRanksRelational) bit-for-bit, IvfParitySpec enforces it:
  * same ascending-index dot/norm accumulation as [[CosineSimilarity]]
  * over the common prefix of the two arrays, same `round(_, 6)`
  * (BigDecimal HALF_UP with NaN/Inf passthrough — Spark's Round), same
  * (score desc, id asc) order with NaN ranking above every finite score
  * (Spark's nan-safe double ordering), same `slice(_, 1, nProbe)` length
  * clamp. */
case class IvfCellRanks(child: Expression, cellIds: Array[Int],
                        centroids: Array[Array[Double]], nProbe: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.IntegerType

  require(cellIds.length == centroids.length,
    s"cellIds (${cellIds.length}) and centroids (${centroids.length}) must align")
  require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_cell_ranks"
  // keep the k×dims matrix out of treeString/explain — print its shape
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"cells=${centroids.length}", s"nProbe=$nProbe")

  override def nullSafeEval(v: Any): Any = rank(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the whole quantizer is one referenced object, not inlined literals
    val ref = ctx.addReferenceObj("ivfRanks", this, classOf[IvfCellRanks].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.rank($c);")
  }

  /** One pass over the centroid table with an insertion top-`nProbe`
    * list: O(k · (dims + nProbe)) per row, no intermediate arrays. */
  def rank(v: ArrayData): ArrayData = {
    val k = centroids.length
    val take = math.min(nProbe, k)
    val topIds = new Array[Int](take)
    val topScores = new Array[Double](take)
    var filled = 0
    val nv = v.numElements()
    var c = 0
    while (c < k) {
      val cent = centroids(c)
      val n = math.min(nv, cent.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = v.getDouble(i); val yi = cent(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      val score = IvfCellRanks.round6(dot / (math.sqrt(na) * math.sqrt(nb)))
      val id = cellIds(c)
      // insertion position among the kept prefix: score desc, id asc,
      // NaN above any finite score (java.lang.Double.compare, the same
      // total order Spark's sort comparators use for doubles)
      var pos = filled
      while (pos > 0 && {
        val cmp = java.lang.Double.compare(score, topScores(pos - 1))
        cmp > 0 || (cmp == 0 && id < topIds(pos - 1))
      }) pos -= 1
      if (filled < take) {
        var j = filled
        while (j > pos) { topScores(j) = topScores(j - 1); topIds(j) = topIds(j - 1); j -= 1 }
        topScores(pos) = score; topIds(pos) = id
        filled += 1
      } else if (pos < take) {
        var j = take - 1
        while (j > pos) { topScores(j) = topScores(j - 1); topIds(j) = topIds(j - 1); j -= 1 }
        topScores(pos) = score; topIds(pos) = id
      }
      c += 1
    }
    ArrayData.toArrayData(
      if (filled == take) topIds else java.util.Arrays.copyOf(topIds, filled))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfCellRanks {
  /** Exactly Spark's `round(x, 6)` on DoubleType: NaN/Infinity pass
    * through; otherwise BigDecimal.valueOf (shortest-decimal) setScale
    * HALF_UP — the single rounding the cross-engine cosine contract
    * uses everywhere. */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** `bpe_token_count(text)` — a REAL byte-pair-encoding token count (r9,
  * replacing the regex-proxy `bpeishTokenCount`): pre-tokenize with the
  * engine's standard word pattern (letter runs | single digits | single
  * other non-space), then encode each word by the classic BPE procedure
  * (Sennrich et al. 2016, public): start from characters and apply the
  * merge table IN RANK ORDER, each rule replacing its adjacent pair
  * left-to-right non-overlapping. Rank-order application is exactly
  * priority-queue BPE encoding, because merging two tokens can only
  * create PAIRS of later rank — an earlier rule's components predate the
  * merged token, so earlier pairs never re-appear.
  *
  * The merge table is a constructor argument (declarable per call, like
  * the IVF centroid table) carried as one plan constant; the DuckDB
  * oracle replays the SAME table via a recursive CTE over a
  * marker-delimited string encoding, so the count is cross-engine
  * reproducible — the property that makes token budgets (packing,
  * mixing) auditable. Per-word results are memoized per thread (token
  * streams are Zipfian; the cache turns the per-doc cost into ~unique
  * words only). */
case class BpeTokenCount(child: Expression, merges: Seq[(String, String)])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{IntegerType, StringType}

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bpe_token_count"
  override def stringArgs: Iterator[Any] = Iterator(child, s"merges=${merges.length}")

  override def nullSafeEval(t: Any): Any =
    count(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpe", this, classOf[BpeTokenCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
  }

  @transient private lazy val wordRe =
    java.util.regex.Pattern.compile(graft.ops.TextAnalysis.BpePattern)
  // word -> token count, memoized per thread (bounded; cleared when full)
  @transient private lazy val cache =
    ThreadLocal.withInitial(new java.util.function.Supplier[java.util.HashMap[String, Integer]] {
      override def get(): java.util.HashMap[String, Integer] = new java.util.HashMap()
    })

  def count(text: org.apache.spark.unsafe.types.UTF8String): Int = {
    val m = wordRe.matcher(text.toString)
    val memo = cache.get()
    if (memo.size > 65536) memo.clear()
    var total = 0
    while (m.find()) {
      val w = m.group()
      val cached = memo.get(w)
      if (cached != null) total += cached
      else {
        val n = encodeLen(w)
        memo.put(w, n)
        total += n
      }
    }
    total
  }

  /** Classic BPE encode, counting only: chars → rank-ordered merges,
    * each applied left-to-right non-overlapping in one pass. */
  private def encodeLen(word: String): Int = {
    // codepoint split (multibyte single-char words stay one token)
    if (word.codePointCount(0, word.length) <= 1) return 1
    var toks = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      toks.add(new String(Character.toChars(cp)))
      i += Character.charCount(cp)
    }
    merges.foreach { case (a, b) =>
      if (toks.size > 1) {
        val next = new java.util.ArrayList[String](toks.size)
        var j = 0
        while (j < toks.size) {
          if (j + 1 < toks.size && toks.get(j) == a && toks.get(j + 1) == b) {
            next.add(a + b); j += 2
          } else { next.add(toks.get(j)); j += 1 }
        }
        toks = next
      }
    }
    toks.size
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `repetition_stats(text)` — the Gopher repetition raw counts in ONE
  * pass per document (r9): struct(n_tokens, top2, dup2, top3) where
  * top2/top3 are the most frequent bigram/trigram's occurrence count and
  * dup2 the total mass of bigrams occurring more than once. Replaces the
  * explode → (doc, gram) count → per-doc max/sum pipeline, which paid
  * TWO full-corpus shuffles (bigrams + trigrams) for statistics that are
  * strictly per-document — a per-row HashMap pass is O(tokens) with no
  * shuffle at all. (The r8-era scale note preferred the explode for
  * spreading one pathological document across the cluster, but per-doc
  * work is linear in document length either way and the shuffle cost is
  * corpus-sized; RepetitionParity in CurationOpsSpec pins bit-equality
  * against the retained relational form, and therefore the unchanged
  * DuckDB oracle.) */
case class RepetitionStats(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("top2", LongType, nullable = false),
    StructField("dup2", LongType, nullable = false),
    StructField("top3", LongType, nullable = false)))
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(t: Any): Any =
    RepetitionStats.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.RepetitionStats.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionStats {
  def compute(text: org.apache.spark.unsafe.types.UTF8String)
    : org.apache.spark.sql.catalyst.InternalRow = {
    val toks = TokenizerUtil.tokens(text)
    val n = toks.length
    var top2 = 0L; var dup2 = 0L; var top3 = 0L
    if (n >= 2) {
      val bi = new java.util.HashMap[String, Int](n * 2)
      var i = 0
      while (i < n - 1) {
        val g = toks(i) + " " + toks(i + 1)
        bi.put(g, bi.getOrDefault(g, 0) + 1)
        i += 1
      }
      val it = bi.values().iterator()
      while (it.hasNext) {
        val c = it.next()
        if (c > top2) top2 = c
        if (c > 1) dup2 += c
      }
    }
    if (n >= 3) {
      val tri = new java.util.HashMap[String, Int](n * 2)
      var i = 0
      while (i < n - 2) {
        val g = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
        tri.put(g, tri.getOrDefault(g, 0) + 1)
        i += 1
      }
      val it = tri.values().iterator()
      while (it.hasNext) {
        val c = it.next()
        if (c > top3) top3 = c
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(n.toLong, top2, dup2, top3)
  }
}

/** Shared tokenizer for the fused text expressions — one implementation
  * of TextAnalysis.tokens' exact semantics (space-only trim, `\s+` split
  * through the same java.util.regex path Spark's split uses, empty
  * trimmed → no tokens). */
object TokenizerUtil {
  private val Empty = new Array[String](0)

  /** Exactly java.util.regex `\s` (default flags: ASCII-only class):
    * space, tab, newline, vertical tab, form feed, carriage return. */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') // \t \n  \f \r are 0x09..0x0D

  /** Manual scan replacing `Pattern.compile("\\s+").split(s, -1)` (r18
    * optimization round — the regex automaton was the hot frame left in
    * the fused text kernels once hashing was cached). Split semantics
    * reproduced bit-for-bit, including the leading empty token when the
    * (space-trimmed) text still starts with non-space whitespace and the
    * trailing empty token when it ends with one (limit = -1 keeps it).
    * TokenizerParity in SimhashParitySpec pins equality against the
    * regex path on every whitespace corner. */
  def tokens(text: org.apache.spark.unsafe.types.UTF8String): Array[String] = {
    val s = text.toString
    var st = 0; var en = s.length
    while (st < en && s.charAt(st) == ' ') st += 1
    while (en > st && s.charAt(en - 1) == ' ') en -= 1
    if (en == st) return Empty
    var n = 1 // tokens = ws runs + 1 (leading/trailing runs give empties)
    var i = st
    while (i < en) {
      if (isWs(s.charAt(i))) {
        n += 1
        i += 1
        while (i < en && isWs(s.charAt(i))) i += 1
      } else i += 1
    }
    val out = new Array[String](n)
    var w = 0
    var tokStart = st
    i = st
    while (i < en) {
      if (isWs(s.charAt(i))) {
        out(w) = s.substring(tokStart, i); w += 1
        i += 1
        while (i < en && isWs(s.charAt(i))) i += 1
        tokStart = i
      } else i += 1
    }
    out(w) = s.substring(tokStart, en)
    out
  }
}

/** `stopword_scores(text)` — hit counts against EVERY language's stopword
  * set in one tokenize+probe pass (array<int>, declared-language order).
  * Replaces 5 interpreted ArrayFilter lambdas per row on the language-ID
  * and quality-scoring paths. The stopword tables are
  * TextAnalysis.stopwords — single source of truth for engine, oracle
  * generation, and this expression. */
case class StopwordScores(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{IntegerType, StringType}

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "stopword_scores"

  override def nullSafeEval(t: Any): Any =
    StopwordScores.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.StopwordScores.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StopwordScores {
  /** (language, set) pairs in declared order — built once per JVM. */
  lazy val langSets: Array[(String, java.util.HashSet[String])] =
    graft.ops.TextAnalysis.stopwords.map { case (lang, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      lang -> s
    }.toArray

  def computeCounts(text: org.apache.spark.unsafe.types.UTF8String): Array[Int] =
    computeCounts(TokenizerUtil.tokens(text))

  def computeCounts(toks: Array[String]): Array[Int] = {
    val n = langSets.length
    val counts = new Array[Int](n)
    var i = 0
    while (i < toks.length) {
      var l = 0
      while (l < n) {
        if (langSets(l)._2.contains(toks(i))) counts(l) += 1
        l += 1
      }
      i += 1
    }
    counts
  }

  def compute(text: org.apache.spark.unsafe.types.UTF8String): ArrayData =
    ArrayData.toArrayData(computeCounts(text))
}

/** `language_id(text)` — the stopword-argmax language pick in one pass:
  * count hits for every language, return the FIRST declared language
  * achieving the maximum when it is positive, else 'und'. Identical tie
  * semantics to the composed when-chain it replaces (declared order
  * wins), without relying on codegen CSE to deduplicate the score
  * subexpression across its 11 references. */
case class LanguageIdExpr(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.StringType

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "language_id"

  override def nullSafeEval(t: Any): Any =
    LanguageIdExpr.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.LanguageIdExpr.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LanguageIdExpr {
  private val und = org.apache.spark.unsafe.types.UTF8String.fromString("und")
  private lazy val langNames: Array[org.apache.spark.unsafe.types.UTF8String] =
    StopwordScores.langSets.map { case (l, _) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(l) }

  def compute(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val counts = StopwordScores.computeCounts(text)
    var best = 0; var bestIdx = -1
    var l = 0
    while (l < counts.length) {
      if (counts(l) > best) { best = counts(l); bestIdx = l }
      l += 1
    }
    if (bestIdx < 0) und else langNames(bestIdx)
  }
}

/** `text_stats(text)` — the quality-feature raw bundle in ONE pass:
  * struct(n_chars, n_tokens, punct, stop_hits) as doubles, where punct
  * counts codepoints outside [A-Za-z0-9\s] (the regexp_replace-length
  * formulation, character-for-character) and stop_hits is the English
  * stopword count. Replaces a per-row regexp_replace + tokenize + HOF
  * filter; consumers derive every ratio from the one struct, which
  * whole-stage codegen's subexpression elimination evaluates once per
  * row within a projection. */
case class TextStats(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", DoubleType, nullable = false),
    StructField("n_tokens", DoubleType, nullable = false),
    StructField("punct", DoubleType, nullable = false),
    StructField("stop_hits", DoubleType, nullable = false)))
  override def prettyName: String = "text_stats"

  override def nullSafeEval(t: Any): Any =
    TextStats.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TextStats.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextStats {
  // reuse the StopwordScores table — one stopword source of truth
  private lazy val enIdx: Int =
    StopwordScores.langSets.indexWhere(_._1 == "en")

  private def isKept(cp: Int): Boolean =
    (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
      (cp >= '0' && cp <= '9') ||
      cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'

  def compute(text: org.apache.spark.unsafe.types.UTF8String)
    : org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    var nChars = 0; var punct = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      nChars += 1
      if (!isKept(cp)) punct += 1
      i += Character.charCount(cp)
    }
    val toks = TokenizerUtil.tokens(text)
    val counts = StopwordScores.computeCounts(toks)
    org.apache.spark.sql.catalyst.InternalRow(
      nChars.toDouble, toks.length.toDouble, punct.toDouble, counts(enIdx).toDouble)
  }
}

/** `normalize_text(text)` — the standard crawled-text canonicalization
  * pass, fused into one codegen expression per row (r10): Unicode NFC
  * composition (UAX #15 via java.text.Normalizer; é as e+◌́ and é as
  * U+00E9 become one byte sequence, so downstream exact/near-dup hashing
  * sees one document, not two), control characters (U+0000–U+001F,
  * U+007F) and the no-break-space family (U+00A0, U+2007, U+202F)
  * mapped to plain spaces, space runs collapsed, ends trimmed.
  * Dedup-before-normalize silently splits byte-identical documents —
  * this runs FIRST in the curation chain.
  *
  * Cross-engine contract: DuckDB's nfc_normalize (utf8proc) implements
  * the same UAX #15 NFC, so the oracle reproduces the output
  * byte-for-byte; NormalizeParity in CurationOpsSpec additionally pins
  * planted decomposed/control/nbsp cases against hand-derived strings.
  * Scale shape: per-row map work, no shuffle, stays inside
  * whole-stage codegen. */
case class NormalizeText(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.StringType

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"

  override def nullSafeEval(t: Any): Any =
    NormalizeText.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.NormalizeText.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeText {
  private def isToSpace(cp: Int): Boolean =
    cp < 0x20 || cp == 0x7f || cp == 0xa0 || cp == 0x2007 || cp == 0x202f

  def compute(text: org.apache.spark.unsafe.types.UTF8String)
    : org.apache.spark.unsafe.types.UTF8String = {
    val nfc = java.text.Normalizer.normalize(text.toString,
      java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var pendingSpace = false
    var i = 0
    while (i < nfc.length) {
      val cp = nfc.codePointAt(i)
      if (isToSpace(cp) || cp == ' ') {
        // collapse lazily: emit one space only before the next kept char,
        // which also drops leading/trailing runs without a second pass
        if (sb.length > 0) pendingSpace = true
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.appendCodePoint(cp)
      }
      i += Character.charCount(cp)
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }
}

/** `excise_windows(text, starts)` — rebuild a document with every token
  * covered by a losing/matched n-window removed, fused into one codegen
  * pass per row (r10). `starts` is the array of 0-based window start
  * positions to excise (each covering [s, s+n-1]); the output struct is
  * (clean_text, n_tokens, n_removed) with kept tokens rejoined by single
  * spaces — the token-stream contract of every excision op here.
  *
  * This replaces the relational rebuild (posexplode tokens → anti-join
  * covered positions → sort_array(collect_list) re-aggregate), which
  * shuffled TOKEN-level rows twice for what is per-document work: the
  * fused form receives one doc-keyed array of window starts (losing
  * windows only — orders of magnitude smaller than the token stream)
  * and does the coverage expansion + rebuild in-row. The relational
  * form is retained as the parity/oracle reference
  * (ParityReferences.substringExciseRelational and
  * exciseOverlapRelational in the test tree;
  * ExciseParity in CurationOpsSpec pins equality). */
case class ExciseWindows(left: Expression, right: Expression, n: Int)
  extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, ArrayType(IntegerType))
  override def dataType: DataType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  override def prettyName: String = "excise_windows"

  override def nullSafeEval(t: Any, s: Any): Any =
    ExciseWindows.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      s.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, s) =>
      s"${ev.value} = org.apache.spark.sql.graft.ExciseWindows.compute($t, $s, $n);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ExciseWindows {
  def compute(text: org.apache.spark.unsafe.types.UTF8String,
              starts: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = TokenizerUtil.tokens(text)
    val len = toks.length
    val covered = new Array[Boolean](len)
    var removed = 0
    var i = 0
    while (i < starts.numElements()) {
      val s = starts.getInt(i)
      // starts are 0-based token positions produced by the engine's own
      // window generators; a negative value is a caller bug and clamping
      // it would silently excise a DIFFERENT window — fail loudly (r11
      // ADVICE). Starts at/past the token count are well-defined no-ops
      // (the window has nothing left to cover) and stay permitted.
      if (s < 0) throw new IllegalArgumentException(
        s"excise_windows: negative window start $s (starts are 0-based token positions)")
      var p = s
      val end = math.min(s + n - 1, len - 1)
      while (p <= end) {
        if (!covered(p)) { covered(p) = true; removed += 1 }
        p += 1
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(if (text.numBytes > 16) text.numBytes else 16)
    var first = true
    var k = 0
    while (k < len) {
      if (!covered(k)) {
        if (!first) sb.append(' ')
        sb.append(toks(k))
        first = false
      }
      k += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString),
      len.toLong, removed.toLong)
  }
}

/** `l2_distance_sq(a, b)` — squared Euclidean distance in one fused
  * loop (r10), the PQ codebook metric (Jégou et al. 2011 product
  * quantization; k-means on subvectors minimizes L2, not cosine). Same
  * ascending-index accumulation as the DuckDB oracle's list_sum. */
case class L2DistanceSq(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_distance_sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
