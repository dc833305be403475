package graft.plans

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}

/** Native Catalyst expression: unsigned byte sum of a binary column.
  *
  * The multimodal pipeline treats media as opaque `binary`; cheap
  * byte-level features (checksums, frame signatures) must not leave
  * whole-stage codegen, so this is a real `Expression` with `doGenCode`
  * (preference order (b) of the build brief: native expression > UDF).
  */
case class ByteSum(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"byte_sum requires BINARY input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "byte_sum"

  override protected def nullSafeEval(input: Any): Any =
    ByteSum.sum(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ByteSum.sum($c)")

  override protected def withNewChildInternal(newChild: Expression): ByteSum =
    copy(child = newChild)
}

object ByteSum {
  /** Static helper invoked from generated code. */
  def sum(bytes: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < bytes.length) { s += bytes(i) & 0xff; i += 1 }
    s
  }
}

/** Native Catalyst expression: Unicode NFC canonical composition of a
  * string column (`java.text.Normalizer`) — the normalization pass a
  * curation pipeline runs before any hashing/dedup (decomposed
  * accents, compatibility variants of the same glyph, and mixed-form
  * crawls otherwise hash as DISTINCT text). A real expression with
  * `doGenCode`, so normalization stays inside whole-stage codegen;
  * NFC is a Unicode-specified function, which is what makes the
  * DuckDB oracle (`nfc_normalize`) exact. */
case class TextNfc(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"text_nfc requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = StringType
  override def prettyName: String = "text_nfc"

  override protected def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString,
        java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), " +
        "java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): TextNfc =
    copy(child = newChild)
}

/** Native Catalyst expression: polynomial rolling hash of a binary
  * column — `h = fold((h·257 + byte) mod 1e9+7)` over the bytes, the
  * Rabin-Karp content fingerprint. The dedup family's md5 fingerprint
  * (q53) identifies exact content; the rolling form is the
  * incremental/chunkable fingerprint a content-defined-chunking dedup
  * pipeline builds on. Integer-exact, so any engine reproduces it (the
  * DuckDB oracle folds ord() code points, identical for the ASCII
  * corpus); codegen'd tight loop per the brief's preference order. */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires BINARY input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.RollingHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  val Base = 257L
  val Mod = 1000000007L

  /** Static helper invoked from generated code. */
  def hash(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * Base + (bytes(i) & 0xff)) % Mod; i += 1 }
    h
  }
}

/** Native Catalyst expression: dot product of two array<double>
  * columns as a tight codegen'd loop.
  *
  * The similarity operators originally used `aggregate(zip_with(...))`;
  * those are higher-order functions, which Spark evaluates via
  * CodegenFallback — one interpreted lambda call (plus an intermediate
  * array allocation) per ELEMENT. At embedding dimensions × candidate
  * counts that interpretation dominated ANN query time. This expression
  * is the build-brief preference order in action: native `Expression`
  * with `doGenCode` > higher-order builtin > UDF. The summation is the
  * same sequential left-to-right fold, so results (and the DuckDB
  * oracle hashes) are bit-identical. */
case class VecDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires two ARRAY<DOUBLE> inputs, got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecDot.dot(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
               b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VecDot.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Static helper invoked from generated code. Sequential fold —
    * identical order to DuckDB's list_sum(list_transform(...)). */
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
          b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
}

/** graft's native SQL functions: one row of [[fns]] per function,
  * name -> builder.
  *
  * Every session has them from creation. [[GraftExtensions]] is listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * and Spark's `SparkSession` builder applies every provider listed there
  * to each session it builds; `newSession()` clones share the parent's
  * extensions. No `--conf spark.sql.extensions` and no per-session set-up
  * call is needed: call sites name a function with
  * `call_function("name", ...)` or in SQL. Adding a function means adding
  * one row to [[fns]]. */
object GraftFunctions {
  private[plans] def intLit(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match { case i: Int => i; case l: Long => l.toInt }
  }

  private[plans] val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "byte_sum" -> (exprs => ByteSum(exprs.head)),
    "rolling_hash" -> (exprs => RollingHash(exprs.head)),
    "text_nfc" -> (exprs => TextNfc(exprs.head)),
    "vec_dot" -> (exprs => VecDot(exprs.head, exprs(1))),
    "ivf_assign" -> (exprs => IvfAssign.fromArgs(exprs)),
    "gen_bmp" -> (exprs => GenBmp(exprs.head,
      intLit(exprs(1), "gen_bmp width"), intLit(exprs(2), "gen_bmp height"))),
    "decode_image" -> (exprs => DecodeImage(exprs.head)),
    "image_ahash" -> (exprs => ImageAhash(exprs.head)),
    "image_resize" -> (exprs => ImageResize(exprs.head,
      intLit(exprs(1), "image_resize width"), intLit(exprs(2), "image_resize height"))),
    "gen_wav" -> (exprs => GenWav(exprs.head,
      intLit(exprs(1), "gen_wav samples"), intLit(exprs(2), "gen_wav rate"))),
    "decode_audio" -> (exprs => DecodeAudio(exprs.head)),
    "audio_energy_fp" -> (exprs => AudioEnergyFp(exprs.head,
      intLit(exprs(1), "audio_energy_fp frame samples"))),
    "audio_frame_energy" -> (exprs => AudioFrameEnergy(exprs.head,
      intLit(exprs(1), "audio_frame_energy frame samples"))),
    "gen_gif" -> (exprs => GenGif(exprs.head,
      intLit(exprs(1), "gen_gif width"), intLit(exprs(2), "gen_gif height"),
      intLit(exprs(3), "gen_gif frames"))),
    "gen_avi" -> (exprs => GenAvi(exprs.head,
      intLit(exprs(1), "gen_avi width"), intLit(exprs(2), "gen_avi height"),
      intLit(exprs(3), "gen_avi frames"))),
    "decode_video" -> (exprs => DecodeVideo(exprs.head)),
    "minhash_sig" -> (exprs => MinhashSig.fromArgs(exprs)),
    "cdc_chunks" -> (exprs => CdcChunks.fromArgs(exprs)),
    "simhash16" -> (exprs => Simhash16(exprs.head)),
    "simhash64" -> (exprs => Simhash64(exprs.head)),
    "simhash128" -> (exprs => Simhash128(exprs.head)),
    "sq8_encode" -> (exprs => Sq8Encode(exprs.head)),
    "sq8_dot" -> (exprs => Sq8Dot(exprs.head, exprs(1))),
    "sq8_dot_asym" -> (exprs => Sq8DotAsym(exprs.head, exprs(1))),
    "pq_encode" -> (exprs => PqOps.encodeFromArgs(exprs)),
    "pq_dot" -> (exprs => PqOps.dotFromArgs(exprs)),
    "pq_dot_asym" -> (exprs => PqOps.dotAsymFromArgs(exprs)),
    "bpe_encode" -> (exprs => BpeOps.fromArgs(exprs)),
    "bpe_encode_bytes" -> (exprs => BpeOps.fromArgsBytes(exprs)),
    "winnow_fps" -> (exprs => WinnowFps.fromArgs(exprs)),
    "char_stats" -> (exprs => CharStats.fromArgs(exprs)),
    "trend_fold" -> (exprs => TrendFold(exprs.head, exprs(1))))
}

/** Installs every [[GraftFunctions.fns]] row as a built-in function and
  * [[FrameLimitRule]] as an optimizer rule (see [[GraftFunctions]] for
  * how Spark finds this class). */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    ext.injectOptimizerRule(_ => FrameLimitRule)
  }
}
