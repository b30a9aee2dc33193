package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path.
  *
  * The composable `VectorFunctions.cosineSimilarity` (zip_with + aggregate)
  * is semantically right but higher-order lambdas are interpreted per
  * element, which dominates brute-force similarity search cost. This
  * expression computes the same value in one tight codegen'd loop —
  * identical arithmetic order (sequential left-to-right double
  * accumulation), so results are bit-for-bit equal to the HOF form and to
  * the DuckDB oracle's sequential list_sum.
  *
  * This is the (b) tier of the extension preference order (compose
  * built-ins > custom Expression > custom plan node): built-ins express the
  * semantics but not the performance.
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression
    with Serializable {

  // ExpectsInputTypes is off-limits outside the sql package
  // (AbstractDataType is private[sql]); validate manually instead.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity_native expects two array<float> inputs, got $l and $r"
        )
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |double $na = 0.0;
         |double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y;
         |  $na += $x * $x;
         |  $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity_native"
}

/** Squared Euclidean distance between two `array<float>` vectors in one
  * codegen'd loop — same rationale and arithmetic contract as
  * [[CosineSimilarityExpr]] (sequential double accumulation, bit-identical
  * to the HOF `VectorFunctions.squaredDistance` and to a DuckDB
  * `list_sum(list_transform(...))` fold). Hot path: IVF cell assignment
  * evaluates one of these per centroid per corpus row. */
case class SquaredDistanceExpr(left: Expression, right: Expression)
    extends BinaryExpression
    with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"squared_distance_native expects two array<float> inputs, got $l and $r"
        )
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "squared_distance_native"
}

/** Sign-bit hyperplane LSH bucket in one codegen'd pass: bit p of the
  * result is set iff `v . planes(p) > 0`. The HOF form evaluates one
  * interpreted zip_with+aggregate lambda chain PER PLANE per row (a bank
  * of 3 planes over 16 banks = 48 interpreted folds per row in the
  * multi-band dedup path); this expression runs all planes in one tight
  * loop nest with the plane matrix held as a constant reference object.
  * Arithmetic contract: per plane, sequential left-to-right double
  * accumulation over min(|v|, |plane|) elements, `> 0` sign test —
  * bit-identical to `VectorFunctions.hyperplaneBucketHof` and to the
  * DuckDB oracle's CASE WHEN fold. */
case class HyperplaneBucketExpr(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression
    with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"hyperplane_bucket_native expects an array<float> input, got $t"
        )
    }

  override def dataType: DataType = IntegerType

  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    var bucket = 0
    var p = 0
    while (p < planeArr.length) {
      val plane = planeArr(p)
      val n = math.min(v.numElements(), plane.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += v.getFloat(i).toDouble * plane(i)
        i += 1
      }
      if (acc > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planeArr, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val bucket = ctx.freshName("bucket")
      val plane = ctx.freshName("plane")
      s"""
         |int $bucket = 0;
         |for (int $p = 0; $p < $planesRef.length; $p++) {
         |  double[] $plane = $planesRef[$p];
         |  int $n = java.lang.Math.min($v.numElements(), $plane.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $v.getFloat($i) * $plane[$i];
         |  }
         |  if ($acc > 0) $bucket |= (1 << $p);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_bucket_native"
}

/** Nearest centroid of an `array<float>` vector against a WHOLE codebook
  * in one codegen'd loop nest — returns `struct(cluster int, sq_dist
  * double)` where cluster is the FIRST index attaining the minimum
  * squared Euclidean distance (ties → lowest cluster id, the k-means
  * rule).
  *
  * Why not `array(squaredDistanceNative(v, c0), ..., c_{k-1})` + argmin:
  * that shape materializes k separate expressions per row, and past a few
  * hundred centroids the generated method blows Janino's bytecode limits
  * — whole-stage codegen bails to interpreted evaluation and assignment
  * goes ~20x slower (observed: k=640 on 200k vectors fell from seconds to
  * 11 minutes). Here the codebook is ONE constant reference object
  * (`float[][]`) and the loop nest stays inside codegen at any `k` — the
  * SemDeDup paper regime is k ~ 11k.
  *
  * Arithmetic contract: per centroid, the same sequential
  * left-to-right double accumulation as [[SquaredDistanceExpr]] —
  * distances (and therefore assignments) are bit-identical to the
  * array+argmin form and to the DuckDB oracle's sequential fold. */
case class NearestCentroidExpr(child: Expression, centroids: Seq[Seq[Float]])
    extends UnaryExpression
    with Serializable {
  require(centroids.nonEmpty, "need at least one centroid")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid_native expects an array<float> input, got $t"
        )
    }

  override def dataType: DataType = StructType(
    Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("sq_dist", DoubleType, nullable = false)
    )
  )

  @transient private lazy val centArr: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    var bestIdx = -1
    var best = Double.PositiveInfinity
    var c = 0
    while (c < centArr.length) {
      val cent = centArr(c)
      val n = math.min(v.numElements(), cent.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = v.getFloat(i).toDouble - cent(i).toDouble
        acc += d * d
        i += 1
      }
      if (acc < best) { best = acc; bestIdx = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestIdx, best))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("centroids", centArr, "float[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      val cent = ctx.freshName("cent")
      s"""
         |int $bestIdx = -1;
         |double $best = Double.POSITIVE_INFINITY;
         |for (int $c = 0; $c < $centRef.length; $c++) {
         |  float[] $cent = $centRef[$c];
         |  int $n = java.lang.Math.min($v.numElements(), $cent.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = (double) $v.getFloat($i) - (double) $cent[$i];
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $best) { $best = $acc; $bestIdx = $c; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$bestIdx, $best});
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid_native"
}

/** Hilbert-curve index of an (x, y) pair at `bits` bits per axis — the
  * locality-preserving complement to `Layout.mortonCode`: consecutive
  * Hilbert indices are ALWAYS adjacent cells (Z-order jumps at quadrant
  * seams), so files cut from a Hilbert-sorted stream cover tighter
  * rectangles and data skipping prunes better on both axes.
  *
  * The classic xy→d walk is a bit-serial state machine (per-level quadrant
  * digit + rotate/flip of the remaining bits) — inherently sequential and
  * mutable, i.e. NOT expressible as fixed-depth Column bit-algebra the way
  * the Morton spread is, which is exactly why it gets the custom-Expression
  * tier: one tight codegen'd loop per row. Inputs are masked to `bits`
  * bits (pre-quantize wider domains, as with Morton); output fits in a
  * long for bits <= 31.
  */
case class HilbertIndexExpr(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression
    with Serializable {
  require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"hilbert_index_native expects two bigint inputs, got $l and $r"
        )
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val mask = (1L << bits) - 1
    var x = l.asInstanceOf[Long] & mask
    var y = r.asInstanceOf[Long] & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val rx = ctx.freshName("rx")
      val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      val mask = (1L << bits) - 1
      s"""
         |long $x = $a & ${mask}L;
         |long $y = $b & ${mask}L;
         |long $d = 0L;
         |for (long $s = 1L << ${bits - 1}; $s > 0; $s >>= 1) {
         |  long $rx = (($x & $s) > 0) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0) {
         |    if ($rx == 1) { $x = $s - 1 - $x; $y = $s - 1 - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "hilbert_index_native"
}

/** Cosine similarity over int8-QUANTIZED vectors (stored as array<int>)
  * in one codegen'd integer loop: dot and both norms accumulate in longs
  * (|q| <= 127 ⇒ a 2^31-dim vector cannot overflow), one double division
  * at the end. The quantized-ANN hot path: per-vector scales cancel in
  * the cosine, so search never touches a float vector — 4x less index
  * memory and integer multiplies in the scan. Deterministic, engine-
  * portable (a DuckDB integer list fold computes the identical value). */
case class QuantizedCosineExpr(left: Expression, right: Expression)
    extends BinaryExpression
    with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"quantized_cosine expects two array<int> inputs, got $l and $r"
        )
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getInt(i).toLong
      val y = b.getInt(i).toLong
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L; long $na = 0L; long $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = (long) $a.getInt($i);
         |  long $y = (long) $b.getInt($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = (double) $dot /
         |  (java.lang.Math.sqrt((double) $na) * java.lang.Math.sqrt((double) $nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "quantized_cosine"
}

/** Thread-local MD5 helpers shared by the digest-prefix expressions below
  * (one `MessageDigest` per thread — `getInstance` per row would dominate
  * the hash itself). Public static methods so generated code can call them. */
object HashUtils {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Value of the first 15 hex nibbles of md5(bytes) — numerically
    * identical to `conv(substring(md5(s), 1, 15), 16, 10)` without
    * materializing the 32-char hex string or radix-parsing it back. */
  def md5Prefix60(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val digest = md.get().digest(s.getBytes)
    prefix60(digest, 0)
  }

  /** Nibbles [off*4+1, off*4+15] of the digest as a 60-bit value (off in
    * bytes/2 units: 0 = nibbles 1-15, used with off=15 nibbles for the
    * second MinHash seed below). */
  private[plans] def prefix60(digest: Array[Byte], startNibble: Int): Long = {
    var v = 0L
    var n = startNibble
    val end = startNibble + 15
    while (n < end) {
      val b = digest(n >> 1) & 0xff
      val nib = if ((n & 1) == 0) b >> 4 else b & 0xf
      v = (v << 4) | nib
      n += 1
    }
    v
  }

  /** Both 60-bit MinHash seeds from ONE digest: (nibbles 1-15, nibbles
    * 16-30 mod `mod`) — the values `TextFunctions.minHashPre` derives via
    * two conv(substring(md5)) chains (which digest the shingle twice). */
  def minHashSeeds(s: org.apache.spark.unsafe.types.UTF8String, mod: Long): Array[Long] = {
    val digest = md.get().digest(s.getBytes)
    Array(prefix60(digest, 0), prefix60(digest, 15) % mod)
  }

  private def compareUnsigned(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    0
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  private def hexLower(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      val b = d(i) & 0xff
      out(i * 2) = HexDigits(b >> 4)
      out(i * 2 + 1) = HexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Lexicographic minimum md5 hex over the word k-shingles of a text —
    * bit-identical to
    * `array_min(transform(shingles(lower-split text, k), s => md5(s)))`
    * (lower + split-on-space keeping empty tokens, shingles joined with
    * one space, lowercase hex, UTF8 binary min == unsigned digest min),
    * without materializing the shingle array or running md5 inside an
    * interpreted HOF lambda. Returns null when the text has fewer than
    * `k` tokens (the empty-shingle-array `array_min` contract). */
  def minShingleMd5(
      s: org.apache.spark.unsafe.types.UTF8String,
      k: Int
  ): org.apache.spark.unsafe.types.UTF8String = {
    val toks = s.toLowerCase.toString.split(" ", -1)
    if (toks.length < k) return null
    val digester = md.get()
    val tb = new Array[Array[Byte]](toks.length)
    var t = 0
    while (t < toks.length) {
      tb(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      t += 1
    }
    var minD: Array[Byte] = null
    var i = 0
    val last = toks.length - k
    while (i <= last) {
      var j = 0
      while (j < k) {
        if (j > 0) digester.update(' '.toByte)
        digester.update(tb(i + j))
        j += 1
      }
      val d = digester.digest() // digest() resets the instance
      if (minD == null || compareUnsigned(d, minD) < 0) minD = d
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(hexLower(minD))
  }

  /** All k-gram digests of a token array (space-joined grams), as the
    * array-data Spark expects from an array<string> expression: lowercase
    * md5 hex, bit-identical to `md5(array_join(...))`. Empty array below k
    * tokens. */
  def gramHashes(
      toks: org.apache.spark.sql.catalyst.util.ArrayData,
      k: Int
  ): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = toks.numElements()
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[AnyRef](0)
      )
    val tb = new Array[Array[Byte]](n)
    var t = 0
    while (t < n) {
      // null tokens are rejected outright: array_join SKIPS nulls, so
      // rendering them as empty strings would silently diverge from the
      // `md5(array_join(...))` contract — callers (split-produced token
      // arrays) never emit nulls, and a loud failure keeps it that way
      val u = toks.getUTF8String(t)
      if (u == null)
        throw new IllegalArgumentException(
          "gram_hashes: null token at index " + t +
            " — token arrays must be null-free (array_join would skip " +
            "nulls; this expression refuses to guess)"
        )
      tb(t) = u.getBytes
      t += 1
    }
    val out = new Array[AnyRef](n - k + 1)
    val digester = md.get()
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) {
        if (j > 0) digester.update(' '.toByte)
        digester.update(tb(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(hexLower(digester.digest()))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct code points of a string with their counts, first-occurrence
    * order, as array<struct<ch, c>> data (see [[CharCountsExpr]]). */
  def charCounts(
      s: org.apache.spark.unsafe.types.UTF8String
  ): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val str = s.toString
    val m = new java.util.LinkedHashMap[String, Integer]()
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val ch = new String(Character.toChars(cp))
      val prev = m.get(ch)
      m.put(ch, if (prev == null) 1 else prev + 1)
      i += Character.charCount(cp)
    }
    val out = new Array[AnyRef](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](UTF8String.fromString(e.getKey), e.getValue.intValue())
        )
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** All script-range counts in ONE code-point traversal (see
    * [[ScriptRangeCountsExpr]]): `bounds(j)` is a flat
    * [lo1, hi1, lo2, hi2, …] array for script j; the result array holds,
    * per script, the count of code points falling in any of its ranges. */
  def scriptRangeCounts(
      s: org.apache.spark.unsafe.types.UTF8String,
      bounds: Array[Array[Int]]
  ): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val counts = new Array[Int](bounds.length)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      var j = 0
      while (j < bounds.length) {
        val b = bounds(j)
        var k = 0
        while (k < b.length) {
          if (cp >= b(k) && cp <= b(k + 1)) {
            counts(j) += 1
            k = b.length
          } else k += 2
        }
        j += 1
      }
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  /** All marker-word language scores in ONE tokenize pass (see
    * [[MarkerScoresExpr]]): lowercase once exactly like the `lower()`
    * built-in, walk space-separated tokens, count per-list hits through
    * the word → list-indices table. */
  def markerScores(
      s: org.apache.spark.unsafe.types.UTF8String,
      table: java.util.HashMap[String, Array[Int]],
      nLists: Int
  ): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toLowerCase.toString
    val counts = new Array[Int](nLists)
    val n = str.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        if (i > start) {
          val hit = table.get(str.substring(start, i))
          if (hit != null) {
            var j = 0
            while (j < hit.length) { counts(hit(j)) += 1; j += 1 }
          }
        }
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  /** Whole-shingle blocked-phrase span count in one tokenize pass (see
    * [[BlockedSpansExpr]]): lowercase once, split on single spaces with
    * empty tokens preserved (the `split(lower(text), " ")` sequence), at
    * each position probe the first-word table and compare candidate
    * tails token-by-token. */
  def blockedSpans(
      s: org.apache.spark.unsafe.types.UTF8String,
      table: java.util.HashMap[String, Array[Array[String]]]
  ): Int = {
    val toks = s.toLowerCase.toString.split(" ", -1)
    var count = 0
    var i = 0
    while (i < toks.length) {
      val cands = table.get(toks(i))
      if (cands != null) {
        var c = 0
        while (c < cands.length) {
          val ph = cands(c)
          if (i + ph.length <= toks.length) {
            var ok = true
            var j = 1
            while (ok && j < ph.length) {
              ok = toks(i + j) == ph(j)
              j += 1
            }
            if (ok) count += 1
          }
          c += 1
        }
      }
      i += 1
    }
    count
  }

  /** Single-pass HTML entity decode over [[HtmlEntities]] — the scanner
    * equivalent of folding [[HtmlEntities.Stages]] (see the equivalence
    * argument there). At `&`: the candidate token is everything up to the
    * FIRST `;` within 31 chars (every decodable form fits in 30 — entity
    * patterns contain no inner `;`, so regex matches end at the first
    * `;` too); a token that decodes emits its replacement and the scan
    * continues AFTER the `;` without rescanning the output (= amp-last,
    * no double decode); anything else emits the `&` verbatim and
    * re-examines from the next char (so `&&lt;` still decodes its tail).
    * Strings without `&` return the input object unchanged. */
  def decodeHtmlEntities(
      s: org.apache.spark.unsafe.types.UTF8String,
      names: java.util.HashMap[String, String],
      cps: java.util.HashMap[Integer, String]
  ): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    if (str.indexOf('&') < 0) return s
    val n = str.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c == '&') {
        var semi = -1
        var j = i + 1
        val lim = math.min(n, i + 32)
        while (semi < 0 && j < lim) {
          if (str.charAt(j) == ';') semi = j
          j += 1
        }
        var rep: String = null
        if (semi > i + 1) {
          val tok = str.substring(i + 1, semi)
          rep =
            if (tok.charAt(0) == '#') numericEntity(tok, cps)
            else names.get(tok)
        }
        if (rep != null) { sb.append(rep); i = semi + 1 }
        else { sb.append('&'); i += 1 }
      } else {
        sb.append(c)
        i += 1
      }
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Numeric-reference decode for a `#…` token (no `&`/`;`). Mirrors the
    * regex forms exactly: `#0{0,24}<decimal>` / `(?i)#x0{0,24}<hex>` —
    * more than 24 leading zeros fails on both sides, the significant
    * digits must parse to a table code point, and hex is case-blind.
    * Returns null when the token is not a decodable reference. */
  private def numericEntity(
      tok: String,
      cps: java.util.HashMap[Integer, String]
  ): String = {
    val len = tok.length
    val hex = len > 1 && (tok.charAt(1) == 'x' || tok.charAt(1) == 'X')
    var p = if (hex) 2 else 1
    var zeros = 0
    while (p < len && tok.charAt(p) == '0') { p += 1; zeros += 1 }
    // regex forms consume at most 24 zeros, and the significant digits
    // never start with 0 — so >24 zeros means no match there either
    if (zeros > 24 || p == len) {
      // all-zero tokens ("#0000") have no significant digits: cp 0 is
      // not in the table, so fail (the regex can't match them either)
      return null
    }
    val radix = if (hex) 16 else 10
    // table code points are <= 0x2666: more than 6 significant digits
    // cannot be a table entry (and would overflow Int in the extreme)
    if (len - p > 6) return null
    var cp = 0
    var k = p
    while (k < len) {
      val d = Character.digit(tok.charAt(k), radix)
      if (d < 0) return null
      cp = cp * radix + d
      k += 1
    }
    cps.get(Int.box(cp))
  }
}

/** 60-bit md5 digest prefix as a codegen'd long expression — bit-identical
  * to `conv(substring(md5(s), 1, 15), 16, 10).cast("long")`, the portable
  * row/gram digest every hash-bucketed operator uses (splits, DSIR
  * featurization, shard assignment, manifests). The composed form builds a
  * 32-char hex string and radix-parses 15 chars of it back PER EVALUATION;
  * this expression goes digest → long directly. The DuckDB oracle form is
  * unchanged: `CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)`. */
case class Md5Prefix60Expr(child: Expression)
    extends UnaryExpression
    with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"md5_prefix60 expects a string input, got $t"
        )
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    HashUtils.md5Prefix60(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"${ev.value} = graft.plans.HashUtils.md5Prefix60($s);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "md5_prefix60"
}

/** Both MinHash seeds (a, b) from ONE md5 digest as a struct<a:bigint,
  * b:bigint> — bit-identical to the pair
  * `(conv(substring(md5(s),1,15),16,10), conv(substring(md5(s),16,15),16,10) % mod)`
  * that `TextFunctions.minHashPre` computes with TWO digest evaluations
  * per shingle (the shared `md5(s)` node is duplicated inside the HOF
  * lambda, where no subexpression elimination runs). Signature generation
  * digests every shingle of every document — halving digests and skipping
  * the hex round-trip is a direct cut to the dominant dedup cost. */
case class MinHashSeedsExpr(child: Expression, mod: Long)
    extends UnaryExpression
    with Serializable {
  require(mod > 1, "mod must be > 1")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash_seeds expects a string input, got $t"
        )
    }

  override def dataType: DataType = StructType(
    Seq(StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false))
  )

  override def nullSafeEval(input: Any): Any = {
    val seeds = HashUtils.minHashSeeds(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      mod
    )
    org.apache.spark.sql.catalyst.InternalRow(seeds(0), seeds(1))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val seeds = ctx.freshName("seeds")
      s"""
         |long[] $seeds = graft.plans.HashUtils.minHashSeeds($s, ${mod}L);
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[] { $seeds[0], $seeds[1] });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_seeds"
}

/** Unicode canonical normalization (NFC/NFD/NFKC/NFKD) as a codegen'd
  * expression calling the JDK's `java.text.Normalizer` — the
  * normalization pass every multilingual dedup pipeline needs (composed
  * vs decomposed accents, compatibility ligatures) that Spark has no
  * built-in for and a Scala UDF would fence out of codegen. NFC is the
  * dedup-canonical default; DuckDB's `nfc_normalize` gives the oracle
  * form. Null-safe; the form is validated at construction. */
case class UnicodeNormalizeExpr(child: Expression, form: String)
    extends UnaryExpression
    with Serializable {
  require(
    Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"unknown normalization form: $form"
  )

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"unicode_normalize expects a string input, got $t"
        )
    }

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString,
        java.text.Normalizer.Form.valueOf(form)
      )
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize(
         |    $s.toString(), java.text.Normalizer.Form.$form));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "unicode_normalize"
}

/** Minimum-shingle md5 fingerprint as ONE codegen'd expression —
  * bit-identical to
  * `array_min(transform(shingles(text, k), s => md5(s)))`
  * (asserted in ScaleSpec), the winnowing-style near-dup fingerprint of
  * `TextAnalysis.fingerprints`. The composed form runs md5 inside an
  * interpreted `transform` lambda after building the shingle array
  * through k-1 chained zip_with's — per-row interpreted evaluation of
  * ~tokens digests (the PERFORMANCE.md "interpreted HOFs are the silent
  * killer" class). This expression is a single Java loop: split once,
  * digest each shingle's bytes directly, track the unsigned-min digest,
  * hex-encode once. NULL when the text has fewer than `k` tokens
  * (matching `array_min` over the empty shingle array). */
case class MinShingleMd5Expr(child: Expression, k: Int)
    extends UnaryExpression
    with Serializable {
  require(k >= 1, "shingle size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"min_shingle_md5 expects a string input, got $t"
        )
    }

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    HashUtils.minShingleMd5(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = graft.plans.HashUtils.minShingleMd5($s, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "min_shingle_md5"
}

/** All word k-gram digests of a token array as ONE codegen'd expression —
  * bit-identical to
  * `transform(sequence(0, size(toks) - k), i => md5(array_join(slice(toks, i+1, k), " ")))`
  * (asserted in ScaleSpec), the L-gram enumeration of
  * `TextAnalysis.spanDedup`. The composed form evaluates an interpreted slice + array_join + digest per
  * POSITION — the PERFORMANCE.md transform(sequence, i =>) O(len x L)
  * interpreted class. This expression is one Java loop: token bytes
  * extracted once, each gram digested directly, one output array.
  * Returns an EMPTY array when the input has fewer than `k` tokens
  * (callers filter those upstream; Spark's descending-sequence wart never
  * enters). */
case class GramHashesExpr(child: Expression, k: Int)
    extends UnaryExpression
    with Serializable {
  require(k >= 1, "gram size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"gram_hashes expects an array<string> input, got $t"
        )
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashUtils.gramHashes(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"${ev.value} = graft.plans.HashUtils.gramHashes($s, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "gram_hashes"
}

/** Per-row character counts as ONE codegen'd expression — the pre-aggregated
  * form of `explode(filter(split(text, ""), s => length(s) > 0))` followed
  * by a count aggregate: returns array<struct<ch:string, c:int>> with one
  * entry per DISTINCT code point (first-occurrence order), counts exact.
  * The composed form ships one row per CHARACTER into the per-(id, char)
  * hash aggregate (~2.4k rows/doc on this corpus); this expression ships
  * one row per distinct char (~40/doc) — same downstream aggregate, ~60x
  * fewer exploded rows. Code-point iteration matches the regex
  * empty-pattern split (surrogate pairs stay whole; parity asserted in
  * ScaleSpec). */
case class CharCountsExpr(child: Expression)
    extends UnaryExpression
    with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"char_counts expects a string input, got $t"
        )
    }

  override def dataType: DataType = ArrayType(
    StructType(
      Seq(StructField("ch", StringType, false), StructField("c", IntegerType, false))
    ),
    containsNull = false
  )

  override def nullSafeEval(input: Any): Any =
    HashUtils.charCounts(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"${ev.value} = graft.plans.HashUtils.charCounts($s);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "char_counts"
}

/** Per-script code-point range counts in ONE traversal:
  * `script_range_counts(text) -> array<int>` with one entry per range
  * group, in constructor order. Replaces the k-regex-scans shape
  * (`length(text) - length(regexp_replace(text, "[ranges]", "")))` per
  * script) used for script-coverage language routing: k regex passes each
  * re-walk the whole string through the regex engine, where this walks the
  * string ONCE and checks each code point against the (tiny, constant)
  * range table — the fused form the langId bench asked for. Each group is
  * a literal-char range string like "぀-ヿ" (multiple lo-hi pairs
  * concatenated), exactly the [[graft.operators.TextAnalysis.ScriptLangs]]
  * class bodies, so the DuckDB oracle's per-script regex classes stay the
  * semantic ground truth. Counts are CODE POINTS (surrogate pairs count
  * once), matching both the regex form and the oracle. */
case class ScriptRangeCountsExpr(child: Expression, rangeGroups: Seq[String])
    extends UnaryExpression
    with Serializable {
  require(rangeGroups.nonEmpty, "at least one range group required")

  /** Flat [lo1, hi1, lo2, hi2, …] per group, parsed from the literal
    * "x-y" concatenations at plan time. */
  private lazy val boundsArr: Array[Array[Int]] =
    rangeGroups.map { g =>
      val cps = new scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < g.length) {
        val lo = g.codePointAt(i)
        i += Character.charCount(lo)
        require(i < g.length && g.charAt(i) == '-',
          s"range group must be lo-hi pairs, got '$g'")
        i += 1
        require(i < g.length, s"range group must be lo-hi pairs, got '$g'")
        val hi = g.codePointAt(i)
        i += Character.charCount(hi)
        cps += lo += hi
      }
      cps.toArray
    }.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"script_range_counts expects a string input, got $t"
        )
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashUtils.scriptRangeCounts(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      boundsArr
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boundsRef = ctx.addReferenceObj("scriptBounds", boundsArr, "int[][]")
    nullSafeCodeGen(ctx, ev, s => {
      s"${ev.value} = graft.plans.HashUtils.scriptRangeCounts($s, $boundsRef);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "script_range_counts"
}

/** All marker-stopword language scores in ONE tokenize pass:
  * `marker_scores(text) -> array<int>`, one entry per word list in
  * constructor order. Replaces langId's k interpreted
  * `size(filter(split(lower(text), " "), t => t = w1 OR …))` HOF chains —
  * higher-order lambdas are CodegenFallback, so the k-filter form
  * interpreted-evaluates k split+filter passes per row; this lowercases
  * once (the same `UTF8String.toLowerCase` the `lower()` built-in uses),
  * walks the space-separated tokens once, and counts per-language marker
  * hits through a word → language-indices hash table. Count semantics are
  * exactly the filter form's: every token equal to any of a language's
  * marker words counts once per occurrence (empty tokens from repeated
  * spaces can never equal a marker). The DuckDB oracle's list_filter
  * scores remain the ground truth. */
case class MarkerScoresExpr(child: Expression, wordLists: Seq[Seq[String]])
    extends UnaryExpression
    with Serializable {
  require(wordLists.nonEmpty, "at least one word list required")

  /** word → indices of the lists containing it (a word may mark several
    * languages — es/fr "de", es "la" — and must count for each). */
  @transient private lazy val table: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    wordLists.zipWithIndex.foreach { case (words, i) =>
      words.foreach { w =>
        val b = m.get(w)
        if (b == null) {
          val nb = new scala.collection.mutable.ArrayBuffer[Int]()
          nb += i
          m.put(w, nb)
        } else b += i
      }
    }
    val out = new java.util.HashMap[String, Array[Int]]()
    m.forEach((k, v) => out.put(k, v.toArray))
    out
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"marker_scores expects a string input, got $t"
        )
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashUtils.markerScores(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      table,
      wordLists.length
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef =
      ctx.addReferenceObj("markerTable", table, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, s => {
      s"${ev.value} = graft.plans.HashUtils.markerScores($s, $tableRef, ${wordLists.length});"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "marker_scores"
}

/** Whole-shingle phrase-blocklist span count in ONE tokenize pass:
  * `blocked_spans(text) -> int`, the number of token positions where a
  * blocked phrase matches as a whole k-shingle, counted with multiplicity.
  * Replaces the per-distinct-phrase-length
  * `size(filter(shingles(text, k), g.isin(...)))` HOF chains — each of
  * which interpreted-builds every k-shingle STRING of the document —
  * with a first-token index: tokenize once (the same
  * `split(lower(text), " ")` token sequence, empty tokens from repeated
  * spaces preserved, so a phrase still never matches across a double
  * space), then at each position look up the token in a
  * first-word → phrase-tails table and compare the few candidate tails
  * token-by-token. No shingle strings are ever materialized. Phrase
  * normalization (lowercase, whitespace-split, single-space join,
  * distinct) matches `TextAnalysis.blockedSpanCount` exactly; the DuckDB
  * oracle's list-comprehension grams remain the ground truth. */
case class BlockedSpansExpr(child: Expression, phrases: Seq[String])
    extends UnaryExpression
    with Serializable {
  require(phrases.nonEmpty, "phrase list must not be empty")

  /** first token → the normalized token sequences starting with it. */
  @transient private lazy val table: java.util.HashMap[String, Array[Array[String]]] = {
    val normalized = phrases
      .map(_.toLowerCase.trim.split("\\s+").toSeq)
      .filter(_.exists(_.nonEmpty))
      .map(_.filter(_.nonEmpty))
      .map(_.mkString(" "))
      .distinct
    require(normalized.nonEmpty, "phrase list is empty after normalization")
    val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Array[String]]]()
    normalized.foreach { p =>
      val toks = p.split(" ")
      val b = m.get(toks(0))
      if (b == null) {
        val nb = new scala.collection.mutable.ArrayBuffer[Array[String]]()
        nb += toks
        m.put(toks(0), nb)
      } else b += toks
    }
    val out = new java.util.HashMap[String, Array[Array[String]]]()
    m.forEach((k, v) => out.put(k, v.toArray))
    out
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"blocked_spans expects a string input, got $t"
        )
    }

  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    HashUtils.blockedSpans(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      table
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef =
      ctx.addReferenceObj("phraseTable", table, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, s => {
      s"${ev.value} = graft.plans.HashUtils.blockedSpans($s, $tableRef);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "blocked_spans"
}

/** Single-pass HTML entity decode over the full [[HtmlEntities]] table
  * (HTML4's 252 names + `apos`, each also by decimal / hex numeric
  * reference) — ONE codegen'd scan per row with two constant hash maps,
  * replacing what would be a 253-stage regexp_replace chain on the hot
  * path (the oracle side DOES fold that chain — [[HtmlEntities.Stages]]
  * is shared verbatim — and ScaleSpec asserts the two forms agree on
  * adversarial entity soup). The no-double-decode guarantee (`&amp;lt;`
  * -> literal `&lt;`) falls out of the scanner never rescanning its
  * output. Unknown names and out-of-table numerics stay verbatim. */
case class DecodeHtmlEntitiesExpr(child: Expression)
    extends UnaryExpression
    with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"decode_html_entities expects a string input, got $t"
        )
    }

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    HashUtils.decodeHtmlEntities(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      HtmlEntities.NameMap,
      HtmlEntities.CpMap
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val namesRef = ctx.addReferenceObj(
      "entityNames",
      HtmlEntities.NameMap,
      "java.util.HashMap"
    )
    val cpsRef = ctx.addReferenceObj(
      "entityCps",
      HtmlEntities.CpMap,
      "java.util.HashMap"
    )
    nullSafeCodeGen(ctx, ev, s => {
      s"${ev.value} = graft.plans.HashUtils.decodeHtmlEntities($s, $namesRef, $cpsRef);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "decode_html_entities"
}
