package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd vector dot product over `ARRAY<FLOAT>`/`ARRAY<DOUBLE>`
  * columns — the custom-Expression path of SURVEY §7.3 (a native
  * Catalyst expression with doGenCode beats the interpreted
  * zip_with+aggregate higher-order functions by avoiding per-element
  * lambda dispatch and intermediate array allocation entirely; the hot
  * loop below is a primitive double-accumulation over ArrayData).
  *
  * Math contract: sequential double accumulation in index order —
  * bit-identical to the DuckDB oracle's list_inner_product and to the
  * (cast-to-double) HOF formulation it replaces.
  *
  * NULL contract — matches the HOF form `aggregate(zip_with(a, b,
  * (x, y) -> x * y), 0.0, (acc, v) -> acc + v)` exactly, so the
  * [[DotProductRewrite]] optimizer rule is semantics-preserving:
  *   - either array NULL → NULL (standard null-intolerant inputs);
  *   - arrays of DIFFERENT lengths → NULL (zip_with pads the shorter
  *     side with NULL, the product poisons the fold);
  *   - any NULL element → NULL (same poisoning).
  * The per-element null checks are only emitted when the array type
  * says `containsNull` — embedding columns read from parquet with
  * non-null elements keep the tight unchecked loop.
  *
  * `floatMul = true` reproduces the analyzed tree of the UNCASTED HOF
  * lambda `(x, y) -> x * y` over two float arrays, where the multiply
  * happens in FLOAT precision before the double accumulation. The
  * default (and the registered `graft_dot` function) multiplies in
  * double, which is exact for float inputs and matches DuckDB.
  */
case class DotProduct(left: Expression, right: Expression,
                      floatMul: Boolean = false) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // the expression can produce NULL even from non-null inputs (ragged
  // or null-element arrays), so nullability must not derive from the
  // children alone
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def containsNull(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  /** Float-precision multiply only applies when both elements ARE float. */
  private def useFloatMul: Boolean =
    floatMul && elemType(left) == FloatType && elemType(right) == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects array<float>/array<double>, got ${left.dataType}, ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    val lcn = containsNull(left)
    val rcn = containsNull(right)
    val fm = useFloatMul
    var acc = 0.0
    var i = 0
    while (i < n) {
      if ((lcn && x.isNullAt(i)) || (rcn && y.isNullAt(i))) return null
      acc +=
        (if (fm) (x.getFloat(i) * y.getFloat(i)).toDouble
         else {
           val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
           val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
           xv * yv
         })
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val product =
        if (useFloatMul) s"(double)($a.getFloat($i) * $b.getFloat($i))"
        else s"((double) $a.$lGet($i)) * ((double) $b.$rGet($i))"
      val nullChecks = Seq(
        if (containsNull(left)) Some(s"$a.isNullAt($i)") else None,
        if (containsNull(right)) Some(s"$b.isNullAt($i)") else None).flatten
      val elemNullGuard =
        if (nullChecks.isEmpty) ""
        else s"if (${nullChecks.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemNullGuard
         |    $acc += $product;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Registration of graft's native functions on any session — both the
  * imperative path (works on a session we didn't build, e.g. the
  * driver's) and the SparkSessionExtensions path for
  * `--conf spark.sql.extensions=graft.expressions.GraftExtensions`.
  */
object GraftFunctions {
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> ((es: Seq[Expression]) => {
      if (es.length != 2) throw new IllegalArgumentException(
        "graft_dot(a, b) expects exactly 2 array arguments")
      DotProduct(es(0), es(1))
    }),
    // Spark's native bloom-filter pair (the machinery behind AQE's
    // runtime row-level filters), exposed as callable functions so
    // operators can build an EXPLICIT broadcast prefilter (see
    // operators/BloomDedup): graft_bloom_agg(xxhash64(k), nItems[, nBits])
    // aggregates a serialized filter; graft_might_contain(bf, xxhash64(k))
    // is the codegen'd membership probe. Both stay whole-stage-codegen
    // compatible — no UDF in the probe path.
    "graft_bloom_agg" -> ((es: Seq[Expression]) =>
      if (es.size >= 3)
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(es(0), es(1), es(2))
      else
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(es(0), es(1))),
    "graft_might_contain" -> ((es: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es(0), es(1))),
    // rolling-hash winnowing prints; k and window arrive as foldable
    // int literals (the DSL wrapper Text.winnow passes lit(k), lit(w)).
    // Arity/foldability validated here so SQL misuse surfaces as an
    // analysis-time contract message, not an internal eval() crash.
    "graft_winnow" -> ((es: Seq[Expression]) => {
      def contract = "graft_winnow(text, k, window) expects 2 positive literal int sizes"
      // dataType checked BEFORE eval(): a foldable non-numeric literal
      // (graft_winnow(text, '8', 4)) must surface the contract message,
      // not a raw ClassCastException from the Number cast; a NULL or
      // non-positive size must likewise fail analysis, not AIOOBE every
      // row at execution
      def intLit(e: Expression): Int = e.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          e.eval() match {
            case null => throw new IllegalArgumentException(contract)
            case n: Number => n.intValue()
          }
        case _ => throw new IllegalArgumentException(contract)
      }
      if (es.length != 3 || !es(1).foldable || !es(2).foldable)
        throw new IllegalArgumentException(contract)
      val (k, w) = (intLit(es(1)), intLit(es(2)))
      if (k <= 0 || w <= 0) throw new IllegalArgumentException(contract)
      RollingWinnow(es(0), k, w)
    }),
    // PQ kernels: the codebook arrives as ONE foldable nested-array
    // literal, evaluated here at analysis time into a flattened
    // reference object — ksub×m centroid literals as expression trees
    // blew janino's 64 KB method limit (see PqExpressions).
    "graft_pq_argmin" -> ((es: Seq[Expression]) => {
      def contract =
        "graft_pq_argmin(subvec, codebook) expects a foldable array<array<double>> codebook"
      val ok = es.length == 2 && es(1).foldable && (es(1).dataType match {
        case ArrayType(ArrayType(DoubleType, _), _) => true
        case _ => false
      })
      if (!ok) throw new IllegalArgumentException(contract)
      // eval() can still yield null / empty / null rows from legal SQL
      // (cast(null as ...), array()) — keep those at analysis time too
      val raw = es(1).eval()
      if (raw == null) throw new IllegalArgumentException(contract + " (got NULL)")
      val ad = raw.asInstanceOf[ArrayData]
      if (ad.numElements() == 0)
        throw new IllegalArgumentException(contract + " (got empty codebook)")
      val cb = (0 until ad.numElements()).map { i =>
        val r = ad.getArray(i)
        if (r == null) throw new IllegalArgumentException(contract + " (null codeword row)")
        r.toDoubleArray()
      }.toSeq
      PqArgmin(es(0), PqKernels.book1(cb))
    }),
    "graft_pq_adc" -> ((es: Seq[Expression]) => {
      def contract =
        "graft_pq_adc(qv, code, codebooks) expects a foldable array<array<array<double>>> codebooks"
      val ok = es.length == 3 && es(2).foldable && (es(2).dataType match {
        case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
        case _ => false
      })
      if (!ok) throw new IllegalArgumentException(contract)
      val raw = es(2).eval()
      if (raw == null) throw new IllegalArgumentException(contract + " (got NULL)")
      val ad = raw.asInstanceOf[ArrayData]
      if (ad.numElements() == 0)
        throw new IllegalArgumentException(contract + " (got empty codebooks)")
      val cbs = (0 until ad.numElements()).map { j =>
        val mtx = ad.getArray(j)
        if (mtx == null) throw new IllegalArgumentException(contract + " (null codebook)")
        (0 until mtx.numElements()).map { c =>
          val row = mtx.getArray(c)
          if (row == null) throw new IllegalArgumentException(contract + " (null codeword row)")
          row.toDoubleArray()
        }.toSeq
      }.toSeq
      PqAdc(es(0), es(1), PqKernels.book(cbs))
    }),
    // fixture-backed BPE tokenizer (see GraftBpe; custom merge tables
    // construct the expression directly with their own BpeModel)
    "graft_bpe" -> ((es: Seq[Expression]) => GraftBpe(es.head, BpeFixture.default)),
    // longest equal-adjacent run in a string array (the codegen'd
    // kernel behind Text.topFraction — see MaxRunLength)
    "graft_max_run" -> ((es: Seq[Expression]) => {
      if (es.length != 1) throw new IllegalArgumentException(
        "graft_max_run(arr) expects exactly 1 array<string> argument")
      MaxRunLength(es.head)
    }),
    // popcount-of-XOR over sign-bit signature words (the codegen'd
    // kernel behind Similarity.hammingDist — see HammingDistance)
    "graft_hamming" -> ((es: Seq[Expression]) => {
      if (es.length != 2) throw new IllegalArgumentException(
        "graft_hamming(a, b) expects exactly 2 array<bigint> arguments")
      HammingDistance(es(0), es(1))
    }),
    // sign-bit signature packer (the codegen'd kernel behind
    // Similarity.signBits — see SignBits). dim arrives as a foldable
    // int literal, validated here like graft_winnow's sizes.
    "graft_sign_bits" -> ((es: Seq[Expression]) => {
      def contract = "graft_sign_bits(vec, dim) expects a positive literal int dim"
      val dimOk = es.length == 2 && es(1).foldable && (es(1).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
      if (!dimOk) throw new IllegalArgumentException(contract)
      val dim = es(1).eval() match {
        case null => throw new IllegalArgumentException(contract)
        case n: Number => n.intValue()
      }
      if (dim <= 0) throw new IllegalArgumentException(contract)
      SignBits(es(0), dim)
    }),
    // positional any-equal over band-signature arrays (the codegen'd
    // kernel behind the first-matching-band guard — see BandMatch)
    "graft_band_match" -> ((es: Seq[Expression]) => {
      if (es.length != 2) throw new IllegalArgumentException(
        "graft_band_match(a, b) expects exactly 2 array<string> arguments")
      BandMatch(es(0), es(1))
    }),
    // hashing-trick bag-of-words weight sum over the committed
    // QualityModel table (the codegen'd kernel behind
    // Text.classifierScoreOf — see WeightBagSum; custom weight tables
    // construct the expression directly)
    "graft_weight_sum" -> ((es: Seq[Expression]) => {
      if (es.length != 1) throw new IllegalArgumentException(
        "graft_weight_sum(toks) expects exactly 1 array<string> argument")
      WeightBagSum(es.head, graft.functions.QualityModel.weights)
    }),
    // first-N-hex-digits-of-md5 as bigint (the codegen'd kernel behind
    // the oracle-portable md5-prefix hash family — see Md5Prefix).
    // nibbles arrives as a foldable int literal, validated here like
    // graft_winnow's sizes.
    "graft_md5_prefix" -> ((es: Seq[Expression]) => {
      def contract = "graft_md5_prefix(str, nibbles) expects a literal int nibbles in 1..15"
      val ok = es.length == 2 && es(1).foldable && (es(1).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
      if (!ok) throw new IllegalArgumentException(contract)
      val n = es(1).eval() match {
        case null => throw new IllegalArgumentException(contract)
        case v: Number => v.intValue()
      }
      if (n <= 0 || n > 15) throw new IllegalArgumentException(contract)
      Md5Prefix(es(0), n)
    }))

  /** Idempotent imperative registration into the session's function
    * registry. Registers each function at most once per session — a
    * createOrReplace on every call would emit a 'replaced a previously
    * registered function' WARN per invocation, flooding logs that share
    * stdout with machine-readable output (e.g. the bench JSON line). */
  /** Register on every session reachable from this thread — the
    * thread-local active session AND the global default session. DSL
    * wrappers ([[graft.functions.Text.winnow]],
    * [[graft.operators.Similarity.dot]]) call this because a Column has
    * no session of its own: on a driver thread-pool thread the active
    * session is unset and an active-only registration was silently
    * skipped. Sessions that are neither must register explicitly via
    * [[register]]. */
  def registerKnownSessions(): Unit = {
    SparkSession.getActiveSession.foreach(register)
    SparkSession.getDefaultSession.foreach(register)
  }

  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** `spark.sql.extensions`-compatible injector: native functions plus
  * the [[DotProductRewrite]] optimizer rule (HOF dot-product pattern →
  * codegen'd [[DotProduct]]) and [[graft.core.SmallSort]] (a small
  * global sort runs in one task). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, builder) =>
      // the info class is documentation-only; point each name at the
      // expression it actually builds
      val cls =
        if (name.contains("bloom")) "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate"
        else if (name.contains("contain")) "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain"
        else if (name.contains("winnow")) classOf[RollingWinnow].getName
        else if (name.contains("pq_argmin")) classOf[PqArgmin].getName
        else if (name.contains("pq_adc")) classOf[PqAdc].getName
        else if (name.contains("bpe")) classOf[GraftBpe].getName
        else if (name.contains("max_run")) classOf[MaxRunLength].getName
        else if (name.contains("hamming")) classOf[HammingDistance].getName
        else if (name.contains("sign_bits")) classOf[SignBits].getName
        else if (name.contains("band_match")) classOf[BandMatch].getName
        else if (name.contains("md5_prefix")) classOf[Md5Prefix].getName
        else if (name.contains("weight_sum")) classOf[WeightBagSum].getName
        else classOf[DotProduct].getName
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls, name),
        builder))
    }
    ext.injectOptimizerRule(_ => DotProductRewrite)
    ext.injectOptimizerRule(_ => graft.core.SmallSort)
  }
}
