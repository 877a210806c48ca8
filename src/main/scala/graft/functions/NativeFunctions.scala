package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The call-site view of one native function's arguments at analysis
  * time: the arity and literal-slot guards every builder shares.
  *
  * `params` names the arguments in call order; a trailing `?` marks an
  * optional one. Several kernels fold an argument (a width, a frozen
  * vocabulary, a codebook) into their generated code, so that slot must be
  * a foldable, non-null literal. Each guard runs BEFORE `eval()`, so a SQL
  * caller that passes the wrong number of arguments, a column or a NULL
  * gets an analysis error naming the function and the requirement instead
  * of an opaque NPE or ClassCastException at plan time. */
private[functions] final class Args(fn: String, params: Seq[String],
    exprs: Seq[Expression]) {
  private def name(i: Int) = params(i).stripSuffix("?")
  private val sig = params
    .map(p => if (p.endsWith("?")) s"[${p.init}]" else p).mkString(", ")

  def fail(what: String): AnalysisException =
    new AnalysisException("USER_RAISED_EXCEPTION",
      Map("errorMessage" -> s"$fn($sig): $what"))

  private val required = params.count(!_.endsWith("?"))
  if (exprs.length < required || exprs.length > params.length)
    throw fail(
      if (required == params.length) s"exactly $required arguments " +
        s"required, got ${exprs.length}"
      else s"$required to ${params.length} arguments required, got " +
        s"${exprs.length}")

  def apply(i: Int): Expression = exprs(i)
  def length: Int = exprs.length

  /** The value of literal slot `i`: foldable and non-null, else a named
    * analysis error. */
  def literal(i: Int, kind: String): Any = {
    if (!exprs(i).foldable)
      throw fail(s"${name(i)} must be a foldable $kind literal")
    val v = exprs(i).eval()
    if (v == null) throw fail(s"${name(i)} must be non-null")
    v
  }

  def int(i: Int): Int = literal(i, "integer") match {
    case n: Number => n.intValue()
    case _ => throw fail(s"${name(i)} must be an integer")
  }

  def double(i: Int): Double = literal(i, "double") match {
    case n: Number => n.doubleValue()
    case _ => throw fail(s"${name(i)} must be a double")
  }

  def string(i: Int): String = literal(i, "string") match {
    case s: UTF8String => s.toString
    case _ => throw fail(s"${name(i)} must be a string")
  }

  private def array(i: Int, kind: String): ArrayData =
    literal(i, kind) match {
      case a: ArrayData => a
      case _ => throw fail(s"${name(i)} must be an $kind")
    }

  def strings(i: Int): Seq[String] = {
    val a = array(i, "array<string>")
    (0 until a.numElements()).map { j =>
      if (a.isNullAt(j)) throw fail(s"${name(i)} must be free of nulls")
      a.getUTF8String(j).toString
    }
  }

  def ints(i: Int): Seq[Int] = array(i, "array<int>").toIntArray().toSeq
  def doubles(i: Int): Array[Double] =
    array(i, "array<double>").toDoubleArray()

  /** Slot `i` as an array of two-field structs, each read by `f`. */
  def structs[T](i: Int, kind: String)(f: InternalRow => T): Seq[T] = {
    val a = array(i, kind)
    (0 until a.numElements()).map(j => f(a.getStruct(j, 2)))
  }
}

/** Every native SQL function graft defines, in one table.
  * [[graft.GraftExtensions]] injects the whole table when a session is
  * built, which makes it the only place a function enters a session:
  * `GraftSession.builder` sessions (and any session built with
  * `spark.sql.extensions=graft.GraftExtensions`) have all of them from the
  * start, for DataFrame and SQL callers alike.
  *
  * The name constants and `call_function` column helpers stay in the
  * `*Expressions` objects next to each expression. No name here may equal
  * a Spark builtin: an injected function would shadow it session-wide
  * (`NativeFunctionsSpec` checks this). */
object NativeFunctions {
  private def fn(name: String, cls: Class[_], params: String*)(
      build: Args => Expression): SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (exprs: Seq[Expression]) => build(new Args(name, params, exprs)))

  private def merges(a: Args, i: Int): Seq[(String, String)] =
    a.structs(i, "array<struct<l,r>>")(r =>
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString))

  private def bpe(name: String, byteLevel: Boolean, wholeInput: Boolean) =
    fn(name, classOf[BpeEncode], "text", "merges")(a =>
      BpeEncode(a(0), merges(a, 1), byteLevel, wholeInput))

  import HashExpressions._, VectorExpressions._, BpeExpressions._,
    UrlExpressions._, BloomFunctions._

  val table: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    // text hashing (HashExpressions)
    fn(HashExpressions.FnName, classOf[PolyHash], "s")(a => PolyHash(a(0))),
    fn(ShingleFnName, classOf[ShingleHashes], "text", "w")(a =>
      ShingleHashes(a(0), a.int(1))),
    fn(GramLenFnName, classOf[GramHashLens], "text", "w")(a =>
      GramHashLens(a(0), a.int(1))),
    fn(IntersectFnName, classOf[SortedIntersectCount], "a", "b")(a =>
      SortedIntersectCount(a(0), a(1))),
    fn(CoordFnName, classOf[CoordinatedSketchStats], "a", "b", "k")(a =>
      CoordinatedSketchStats(a(0), a(1), a.int(2))),
    // vectors and quantization (VectorExpressions)
    fn(VectorExpressions.FnName, classOf[FloatVectorDot], "a", "b")(a =>
      FloatVectorDot(a(0), a(1))),
    fn(PqEncodeFn, classOf[PqEncode], "vec", "m", "sub", "cids", "flat")(a =>
      PqEncode(a(0), a.int(1), a.int(2), a.ints(3), a.doubles(4).toSeq)),
    fn(SQ8EncodeFn, classOf[SQ8Encode], "vec", "mins", "scales")(a =>
      SQ8Encode(a(0), a(1), a(2))),
    fn(SQ8DotFn, classOf[SQ8ReconDot], "a", "b", "mins", "scales")(a =>
      SQ8ReconDot(a(0), a(1), a(2), a(3))),
    fn(SQ8ErrFn, classOf[SQ8MaxAbsErr], "vec", "codes", "mins", "scales")(
      a => SQ8MaxAbsErr(a(0), a(1), a(2), a(3))),
    fn(PQDistFn, classOf[PQAdcDist], "query", "recon", "sub")(a =>
      PQAdcDist(a(0), a(1), a.int(2))),
    fn(PQLutFn, classOf[PQLutDist], "lut", "codes", "m")(a =>
      PQLutDist(a(0), a(1), a.int(2))),
    fn(PackFn, classOf[CodesPack], "codes")(a => CodesPack(a(0))),
    fn(UnpackFn, classOf[CodesUnpack], "bin")(a => CodesUnpack(a(0))),
    fn(PQCodeDotFn, classOf[PQCodeDot], "table", "a", "b", "m", "k")(a =>
      PQCodeDot(a(0), a(1), a(2), a.int(3), a.int(4))),
    // Bloom build/probe over Spark's own expressions (BloomFunctions); the
    // size and filter slots are checked here and passed on unchanged
    fn(AggName, classOf[BloomFilterAggregate], "key", "num_items",
        "num_bits") { a =>
      a.literal(1, "integer"); a.literal(2, "integer")
      new BloomFilterAggregate(a(0), a(1), a(2))
    },
    fn(ProbeName, classOf[BloomFilterMightContain], "key", "bloom") { a =>
      // a scalar subquery is Spark's other accepted form of the filter
      if (!a(1).isInstanceOf[ScalarSubquery]) a.literal(1, "binary")
      BloomFilterMightContain(a(1), a(0))
    },
    // URL normalization (UrlExpressions)
    fn(UrlExpressions.FnName, classOf[UrlPctNormalize], "s")(a =>
      UrlPctNormalize(a(0))),
    fn(DotFnName, classOf[UrlRemoveDotSegments], "s")(a =>
      UrlRemoveDotSegments(a(0))),
    fn(IdnFnName, classOf[UrlIdnFold], "s")(a => UrlIdnFold(a(0))),
    fn(RegDomFnName, classOf[UrlRegisteredDomain], "host", "suffixes",
        "wildcards", "exceptions")(a =>
      UrlRegisteredDomain(a(0), a.strings(1), a.strings(2), a.strings(3))),
    fn(CanonFnName, classOf[UrlCanonParts], "url", "trackingParams")(a =>
      UrlCanonParts(a(0), a.strings(1))),
    // tokenizers (BpeExpressions, UnigramExpressions, WordPieceExpressions)
    bpe(BpeExpressions.FnName, byteLevel = false, wholeInput = false),
    bpe(ByteFnName, byteLevel = true, wholeInput = false),
    bpe(BytePreFnName, byteLevel = true, wholeInput = true),
    fn(GptPreFnName, classOf[GptPreTokenize], "text")(a =>
      GptPreTokenize(a(0))),
    // optional 3rd argument: ATOMIC special tokens (document separators
    // etc. — the tiktoken contract)
    fn(GptByteBpeFnName, classOf[GptByteBpe], "text", "merges",
        "specials?") { a =>
      val specials = if (a.length < 3) Nil else a.strings(2)
      if (specials.exists(_.isEmpty))
        throw a.fail("specials must be free of empty entries")
      GptByteBpe(a(0), merges(a, 1), specials)
    },
    fn(TokenIdsFnName, classOf[TokenIds], "tokens", "vocab")(a =>
      TokenIds(a(0), a.structs(1, "array<struct<t,i>>")(r =>
        (r.getUTF8String(0).toString, r.getLong(1))))),
    fn(UnigramExpressions.FnName, classOf[UnigramEncode], "text",
        "pieces")(a =>
      UnigramEncode(a(0), a.structs(1, "array<struct<piece,logp>>")(r =>
        (r.getUTF8String(0).toString, r.getDouble(1))))),
    fn(WordPieceExpressions.FnName, classOf[WordPieceEncode], "text",
        "vocab")(a => WordPieceEncode(a(0), a.strings(1))),
    // curation signals
    fn(RepetitionExpressions.FnName, classOf[RepetitionSignals], "text")(
      a => RepetitionSignals(a(0))),
    fn(CompressExpressions.FnName, classOf[DeflateRatio], "text")(a =>
      DeflateRatio(a(0))),
    fn(SpanExpressions.FnName, classOf[SpanCorrupt], "text", "doc_id",
        "rate", "mean")(a =>
      SpanCorrupt(a(0), a(1), a.double(2), a.int(3))),
    fn(AffineExpressions.FnName, classOf[AffineProject], "vec", "w", "mu",
        "k", "dim")(a =>
      AffineProject(a(0), a.doubles(1), a.doubles(2), a.int(3), a.int(4))),
    fn(AcExpressions.FnName, classOf[AcScreen], "text", "patterns")(a =>
      AcScreen(a(0), a.strings(1))),
    fn(AcExpressions.RedactFnName, classOf[AcRedact], "text", "patterns",
        "marker")(a => AcRedact(a(0), a.strings(1), a.string(2))))
}
