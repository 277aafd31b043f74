package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}

/** Native Catalyst kernel for embedding similarity (SURVEY.md §7.1.7).
  *
  * Spark's higher-order array functions (`zip_with` + `aggregate`) CANNOT
  * participate in whole-stage codegen — lambda expressions evaluate
  * interpreted, allocating a zipped intermediate array per row. For the ANN /
  * near-dup operators the dot product is the innermost kernel (O(N·Q·dim)
  * evaluations), so it gets a real `Expression` with `doGenCode`: a tight
  * primitive loop over the two `ArrayData`, no allocation, fused into the
  * surrounding codegen stage.
  *
  * Summation is sequential left-to-right in double — deterministic, and
  * bit-identical to DuckDB's `list_inner_product` over `DOUBLE[]` (verified
  * empirically), which makes the operator oracle-checkable without decimal
  * gymnastics.
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vector_dot expects two ARRAY<FLOAT|DOUBLE> arguments, got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var sum = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      sum += xi * yi
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double)$a.$lGet($i) * (double)$b.$rGet($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_dot"
}

/** Max absolute element of a float/double vector — the per-vector scale basis
  * for int8 quantization. Same codegen pattern as [[VectorDot]]: one primitive
  * loop fused into the surrounding stage (a `transform`+`array_max` lambda
  * chain would run interpreted and allocate per row).
  */
case class VectorMaxAbs(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vector_max_abs expects ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val f = elemIsFloat
    var m = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(if (f) x.getFloat(i).toDouble else x.getDouble(i))
      if (v > m) m = v
      i += 1
    }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = java.lang.Math.abs((double)$a.$get($i));
         |  if ($v > $m) $m = $v;
         |}
         |${ev.value} = $m;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "vector_max_abs"
}

/** Registration: SQL surface (`SELECT vector_dot(a, b)`) via
  * `SparkSessionExtensions` for `spark.sql.extensions=graft.expressions.GraftExtensions`,
  * plus [[GraftFunctions.register]] for sessions built without the extension
  * (the driver constructs its own `SparkSession`).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach(ext.injectFunction)
}

object GraftFunctions {

  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)
  private type FunctionIdentifier = org.apache.spark.sql.catalyst.FunctionIdentifier

  /** Plan-time integer constant from a SQL literal argument. */
  private def litInt(e: Expression, fn: String, pos: Int): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an integer literal, got $other")
  }
  private def litBool(e: Expression, fn: String, pos: Int): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be a boolean literal, got $other")
  }
  /** Plan-time double array from a constant SQL argument, e.g. `array(1.0D, 0.5D)`. */
  private def litDoubles(e: Expression, fn: String, pos: Int): Seq[Double] = e.dataType match {
    case ArrayType(DoubleType, false) if e.foldable =>
      e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray().toSeq
    case _ => throw new IllegalArgumentException(
      s"$fn: argument $pos must be a constant ARRAY<DOUBLE> without NULLs, got $e")
  }

  val descriptors: Seq[Descriptor] = Seq(
    (new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))),
    // SQL surface for the text kernels: size/lane parameters are plan-time
    // literals, e.g. `SELECT simhash64(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+', 0), 5)`
    (new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (args: Seq[Expression]) => ShingleHashes(args(0), litInt(args(1), "shingle_hashes", 2),
        if (args.length > 2) litBool(args(2), "shingle_hashes", 3) else true)),
    (new FunctionIdentifier("shingle_stats"),
      new ExpressionInfo(classOf[ShingleStats].getName, "shingle_stats"),
      (args: Seq[Expression]) => ShingleStats(args(0), litInt(args(1), "shingle_stats", 2))),
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => MinHashSig(args(0), litInt(args(1), "minhash_sig", 2),
        litInt(args(2), "minhash_sig", 3))),
    (new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args(0), litInt(args(1), "simhash64", 2))),
    (new FunctionIdentifier("rolling_fingerprint"),
      new ExpressionInfo(classOf[RollingFingerprint].getName, "rolling_fingerprint"),
      (args: Seq[Expression]) => RollingFingerprint(args(0))),
    (new FunctionIdentifier("ngram_strings"),
      new ExpressionInfo(classOf[NgramStrings].getName, "ngram_strings"),
      (args: Seq[Expression]) => NgramStrings(args(0), litInt(args(1), "ngram_strings", 2))),
    (new FunctionIdentifier("vector_max_abs"),
      new ExpressionInfo(classOf[VectorMaxAbs].getName, "vector_max_abs"),
      (args: Seq[Expression]) => VectorMaxAbs(args(0))),
    (new FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy"),
      (args: Seq[Expression]) => CharEntropy(args(0))),
    (new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => NfcNormalize(args(0))),
    // `SELECT url_canon(url).url_canon, url_canon(url).domain`: the canonical
    // keys over the committed public-suffix list
    (new FunctionIdentifier("url_canon"),
      new ExpressionInfo(classOf[UrlCanon].getName, "url_canon"),
      (args: Seq[Expression]) => UrlCanon(args(0), graft.operators.Web.pslSuffixes)),
    // `SELECT ewm_fold(collect_list(struct(x)) OVER (... ROWS BETWEEN 2 PRECEDING
    // AND CURRENT ROW), array(1.0D, 0.5D, 0.25D))`
    (new FunctionIdentifier("ewm_fold"),
      new ExpressionInfo(classOf[EwmFold].getName, "ewm_fold"),
      (args: Seq[Expression]) => EwmFold(args(0), litDoubles(args(1), "ewm_fold", 2))))

  /** Idempotently register the graft functions on an existing session. */
  def register(spark: SparkSession): Unit = descriptors.foreach { case (id, info, builder) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }

  // Column-API surface (no registry needed)
  def vectorDot(a: Column, b: Column): Column =
    GraftColumnBridge.column(VectorDot(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def vectorMaxAbs(a: Column): Column =
    GraftColumnBridge.column(VectorMaxAbs(GraftColumnBridge.expression(a)))

  /** Truncated adjusted EWM of a `collect_list(struct(x))` window frame
    * ([[EwmFold]]); `weights(k)` weighs the k-th lag.
    */
  def ewmFold(frame: Column, weights: Seq[Double]): Column =
    GraftColumnBridge.column(EwmFold(GraftColumnBridge.expression(frame), weights))

  // Text-hash kernels (TextHashExpressions.scala). Parameters beyond the token
  // array are plan-time constants, so these are Column-API only.
  def shingleHashes(tokens: Column, n: Int, distinct: Boolean = true): Column =
    GraftColumnBridge.column(ShingleHashes(GraftColumnBridge.expression(tokens), n, distinct))

  def shingleStats(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleStats(GraftColumnBridge.expression(tokens), n))

  def shingleHashes128(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHashes128(GraftColumnBridge.expression(tokens), n))

  def minhashSig(tokens: Column, n: Int, k: Int): Column =
    GraftColumnBridge.column(MinHashSig(GraftColumnBridge.expression(tokens), n, k))

  /** Word n-grams as strings, document order; empty when tokens < n. */
  def ngramStrings(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(NgramStrings(GraftColumnBridge.expression(tokens), n))

  def simhash64(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(tokens), n))

  def rollingFingerprint(tokens: Column): Column =
    GraftColumnBridge.column(RollingFingerprint(GraftColumnBridge.expression(tokens)))

  /** Language-ID kernel over pre-lowercased text; `markers` is plan-time
    * configuration (priority-ordered language -> marker words).
    */
  def langId(loweredText: Column, markers: Seq[(String, Seq[String])]): Column =
    GraftColumnBridge.column(LangId(GraftColumnBridge.expression(loweredText), markers))

  /** Code-point Shannon entropy (bits) of a string. */
  def charEntropy(text: Column): Column =
    GraftColumnBridge.column(CharEntropy(GraftColumnBridge.expression(text)))

  /** Unicode NFC normalization ([[NfcNormalize]]) — run once at ingest in
    * front of every content-keyed operator; already-NFC text passes through
    * allocation-free.
    */
  def nfcNormalize(text: Column): Column =
    GraftColumnBridge.column(NfcNormalize(GraftColumnBridge.expression(text)))

  /** The [[UrlCanon]] struct of a URL over public-suffix rule lines. */
  def urlCanon(url: Column, pslRules: Seq[String]): Column =
    GraftColumnBridge.column(UrlCanon(GraftColumnBridge.expression(url), pslRules))

  /** Registrable domain of a lowercased host ([[RegistrableDomain]]). */
  def registrableDomain(host: Column, pslRules: Seq[String]): Column =
    GraftColumnBridge.column(RegistrableDomain(GraftColumnBridge.expression(host), pslRules))

  /** Greedy longest-match subword segmentation stats `[n_tokens, n_fallback]`
    * for one word against a plan-time vocabulary (the tokenizer APPLY kernel,
    * [[GreedySegment]]). Column-API only: the vocabulary is plan-time
    * configuration, like [[langId]]'s marker lists.
    */
  def greedySegment(word: Column, vocab: Seq[String]): Column =
    GraftColumnBridge.column(GreedySegment(GraftColumnBridge.expression(word), vocab))

  /** Whole-document greedy-segmentation stats `[n_words, n_tokens,
    * n_fallback, n_chars]` over a token array ([[SubwordStats]]) — the
    * hot-path doc-level form of [[greedySegment]].
    */
  def subwordStats(tokens: Column, vocab: Seq[String]): Column =
    GraftColumnBridge.column(SubwordStats(GraftColumnBridge.expression(tokens), vocab))

  /** Bitset bloom-membership probe over a prebuilt sketch
    * ([[BloomMightContain]]) — the frontier-novelty guard's scale path.
    */
  def bloomMightContain(key: Column,
      filter: org.apache.spark.util.sketch.BloomFilter): Column =
    GraftColumnBridge.column(BloomMightContain(GraftColumnBridge.expression(key), filter))

  /** Kind-prefixed vocabulary-candidate entries (word + char 3-/2-grams) of
    * a token array in one kernel pass ([[VocabGramEntries]]).
    */
  def vocabGramEntries(tokens: Column): Column =
    GraftColumnBridge.column(VocabGramEntries(GraftColumnBridge.expression(tokens)))

  /** JSON string escape in ONE byte pass ([[JsonEscapeStr]]) — replaces the
    * 34-deep `replace` chain in the WAT serializer (r18 optimization).
    */
  def jsonEscape(s: Column): Column =
    GraftColumnBridge.column(JsonEscapeStr(GraftColumnBridge.expression(s)))

  /** Escape + quote + comma-join an ARRAY<STRING> in one pass
    * ([[JsonEscapeQuoteJoin]]) — replaces the interpreted per-link
    * `transform` lambda in the WAT links serializer (r18 optimization).
    */
  def jsonEscapeQuoteJoin(arr: Column): Column =
    GraftColumnBridge.column(JsonEscapeQuoteJoin(GraftColumnBridge.expression(arr)))
}
