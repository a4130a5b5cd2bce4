package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.types._

/** One argument position of a [[Kernel]]: a per-row column of an accepted
  * type ([[Ty]]) or a plan-time literal ([[Lit]]).
  */
sealed trait KernelArg

/** A column argument: `sql` names the accepted type in type-check
  * messages. `AbstractDataType` is private to Spark, so ExpectsInputTypes
  * is unavailable; [[Kernel.typeCheck]] gives the same analysis-time error
  * instead of a runtime ClassCastException from inside the kernel.
  */
final case class Ty(sql: String, accepts: DataType => Boolean) extends KernelArg

object Ty {
  val str: Ty = Ty("string", _ == StringType)
  val int: Ty = Ty("int", _ == IntegerType)
  val bin: Ty = Ty("binary", _ == BinaryType)
  def arr(e: DataType): Ty = Ty(s"array<${e.simpleString}>", {
    case ArrayType(t, _) => t == e
    case _ => false
  })
  /** A float or double vector; the kernel target follows the element type. */
  val vec: Ty = Ty("array<float> or array<double>", {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  })
  /** A k-means / PQ codebook: array<struct<cluster int, cvec array<double>>>. */
  val codebook: Ty = Ty("array<struct<int, array<double>>>", {
    case ArrayType(st: StructType, _) => st.length == 2 &&
      st(0).dataType == IntegerType && arr(DoubleType).accepts(st(1).dataType)
    case _ => false
  })
  /** t21's merged language profiles: array<struct<w, packed, li>>. */
  val profiles: Ty = Ty("array<struct<int, array<bigint>, array<int>>>", {
    case ArrayType(st: StructType, _) => st.length == 3 &&
      st(0).dataType == IntegerType && arr(LongType).accepts(st(1).dataType) &&
      arr(IntegerType).accepts(st(2).dataType)
    case _ => false
  })
}

/** A plan-time literal argument in [lo, hi]: kernel geometry (gram width,
  * subspace offset, plane count), not per-row data. It must be a foldable
  * INT literal (BIGINT too when `long`); the builder checks it and folds it
  * to a [[Literal]] child, so plans print it in place. `default` fills an
  * omitted trailing argument.
  */
final case class Lit(name: String, lo: Long, hi: Long = Long.MaxValue,
    long: Boolean = false, default: Option[Int] = None) extends KernelArg

/** One row of the kernel table: a `graft_*` SQL function backed by one
  * static kernel, `owner.method` (a top-level object gets static
  * forwarders, so codegen emits `graft.functions.TextHash.polyHash(x)`).
  * Arguments pass to the kernel in SQL order.
  *
  * @param nulls    the kernel may return null (a boxed or object result)
  * @param doubleMethod the double-element variant of a vector kernel;
  *                 `method` then serves float vectors
  * @param expects  the type-check message's expectation text, where the
  *                 one derived from the column types does not read well
  * @param positive the noun for the last column argument, an int that must
  *                 be >= 1 when it is foldable
  */
final case class Kernel(name: String, args: Seq[KernelArg], dataType: DataType,
    owner: AnyRef, method: String, nulls: Boolean = false,
    doubleMethod: Option[String] = None, expects: Option[String] = None,
    positive: Option[String] = None) {
  private val cols: Seq[Ty] = args.collect { case t: Ty => t }
  def minArgs: Int = args.count {
    case l: Lit => l.default.isEmpty
    case _ => true
  }

  private def expectsText: String = expects.getOrElse(
    if (cols == Seq(Ty.str)) "a string argument"
    else cols.map(_.sql).mkString("(", ", ", ")"))

  def typeCheck(in: Seq[Expression]): TypeCheckResult = {
    val ts = in.map(_.dataType)
    val ok = ts.length == cols.length &&
      cols.zip(ts).forall { case (c, t) => c.accepts(t) } &&
      (doubleMethod.isEmpty ||
        ts.map(_.asInstanceOf[ArrayType].elementType).distinct.size == 1)
    lazy val nonPositive = positive.isDefined && in.last.foldable && {
      val v = in.last.eval(); v != null && v.asInstanceOf[Int] < 1 }
    if (!ok) {
      val got = ts.map(_.simpleString)
      TypeCheckFailure(s"$name expects $expectsText, got " +
        (if (expectsText.startsWith("(")) got.mkString("(", ", ", ")")
         else got.mkString(", ")))
    } else if (nonPositive) TypeCheckFailure(s"$name ${positive.get} must be >= 1")
    else TypeCheckSuccess
  }

  /** The kernel method for these column types (vector kernels dispatch on
    * the element type, which [[typeCheck]] has made one type).
    */
  def methodFor(colTypes: Seq[DataType]): String = doubleMethod match {
    case Some(d) if colTypes.head.asInstanceOf[ArrayType].elementType != FloatType => d
    case _ => method
  }
}

/** A call of one [[Kernel]], looked up by name: the expression serializes
  * as the name plus its children, and two calls of one function compare
  * equal. `doGenCode` emits one static call per row, so the call takes
  * part in whole-stage codegen; values are bit-identical to the SQL folds
  * the kernels replace (see the TextHash doc), which keeps the DuckDB
  * oracle hash-compare valid.
  *
  * Registered per session by [[GraftFunctions.register]]; use via
  * `expr("graft_minhash_sig(text)")` or `call_function`.
  */
case class KernelExpr(name: String, children: Seq[Expression])
    extends Expression {
  @transient private lazy val kernel: Kernel = GraftFunctions.kernel(name)

  private def colChildren: Seq[Expression] =
    children.zip(kernel.args).collect { case (c, _: Ty) => c }

  private def methodName: String =
    kernel.methodFor(colChildren.map(_.dataType))

  // the interpreted path (constant folding, codegen fallback) calls the
  // same kernel method reflectively
  @transient private lazy val reflected: java.lang.reflect.Method =
    kernel.owner.getClass.getMethods.find(m => m.getName == methodName &&
      m.getParameterCount == children.length).get

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.nulls || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def checkInputDataTypes(): TypeCheckResult =
    kernel.typeCheck(colChildren)

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input).asInstanceOf[AnyRef])
    if (args.contains(null)) null else reflected.invoke(kernel.owner, args: _*)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val owner = kernel.owner.getClass.getName.stripSuffix("$")
    val call = s"$owner.$methodName(${gens.map(_.value).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    if (nullable) {
      // a fresh local per call site: two calls in one stage must not
      // redeclare one Java variable
      val assign = if (kernel.nulls) {
        val r = ctx.freshName("kernelRes")
        val unbox =
          if (CodeGenerator.isPrimitiveType(dataType)) s".${javaType}Value()" else ""
        s"""${CodeGenerator.boxedType(dataType)} $r = $call;
           |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r$unbox; }"""
          .stripMargin
      } else s"${ev.value} = $call;"
      val body = gens.zip(children).foldRight(s"${ev.isNull} = false;\n$assign") {
        case ((g, c), inner) => s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code).mkString("\n")}
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Custom Catalyst GENERATOR (the table-function rung next to the scalar
  * kernels above and the aggregates in [[KmvSketch]]): sliding
  * token windows of `n` tokens every `stride`, one output row per window.
  *
  * Why a Generator and not `explode(transform(sequence(...), ...))`: the
  * built-in form materializes the COMPLETE window array per input row
  * before exploding — a 1 M-token document with stride 4 builds a ~250 k
  * element array (each holding an n-token string slice) in executor
  * memory. A Generator's contract is an iterator: [[GenerateExec]] pulls
  * windows one at a time, so peak memory is one window regardless of
  * document size. That is the same stream-don't-materialize discipline as
  * m07's bounded tile explode, applied where the blow-up factor is
  * row-dependent. CodegenFallback is deliberate: GenerateExec's codegen
  * path only covers the explode family, and the per-window work (a slice
  * + join) dwarfs the virtual-call overhead.
  *
  * Token split is `split(" ", -1)` — empties kept, matching DuckDB's
  * string_split semantics (see TextHash doc for the shared contract).
  */
case class TokenWindowsExpr(child: Expression, n: Int, stride: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n > 0 && stride > 0, "window size and stride must be positive")
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def elementSchema: StructType = StructType(Seq(
    StructField("win_idx", IntegerType, nullable = false),
    StructField("win_text", StringType, nullable = false)))
  override def prettyName: String = "graft_token_windows"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val toks = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.split(" ", -1)
      Range(0, toks.length, stride).iterator.zipWithIndex.map {
        case (st, i) =>
          val win = toks.slice(st, math.min(st + n, toks.length))
            .mkString(" ")
          org.apache.spark.sql.catalyst.InternalRow(i,
            org.apache.spark.unsafe.types.UTF8String.fromString(win))
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Character n-gram GENERATOR: streams the len-n+1 sliding n-grams of a
  * string out of GenerateExec one at a time — the t18 trigram-LM feed. A
  * compiled single pass replaces the interpreted
  * `explode(transform(sequence(1, len-n+1), i -> substring(text, i, n)))`
  * HOF chain (measured 6× the oracle at sf0.1: one interpreted lambda +
  * UTF8String allocation per position, plus the materialized per-doc
  * position array this never builds). Code-point addressed, so semantics
  * match `substring` on any input, not just ASCII.
  */
case class CharGramsExpr(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n > 0, "gram width must be positive")
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def elementSchema: StructType = StructType(Seq(
    StructField("g", StringType, nullable = false)))
  override def prettyName: String = "graft_char_grams"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val len = s.numChars()
      if (len < n) Iterator.empty
      else Iterator.range(0, len - n + 1).map { i =>
        org.apache.spark.sql.catalyst.InternalRow(s.substring(i, i + n))
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-session registration of the engine's native functions. */
object GraftFunctions {
  /** Plan-time int-literal extraction for trailing geometry args (subspace
    * offsets/widths, band counts). These functions are registered
    * session-wide where ad-hoc SQL can reach them, and the bare
    * `eval(null).asInstanceOf[Int]` this replaces threw an opaque
    * NPE/ClassCastException from inside function resolution on a column
    * reference or a Long literal (round-13 advice) — reject non-foldable
    * or non-int args with an AnalysisException naming the function and
    * the constraint instead.
    */
  private def intLit(fn: String, arg: String, e: Expression): Int = {
    def fail(got: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "_LEGACY_ERROR_TEMP_3102", // bare `<msg>` template
        Map("msg" ->
          (s"$fn: argument <$arg> must be a foldable INT literal " +
            s"(plan-time geometry, not per-row data); got $got")))
    if (!e.foldable) fail(s"non-foldable expression ${e.sql}")
    else if (e.dataType != IntegerType) fail(s"type ${e.dataType.simpleString}")
    else e.eval(null) match {
      case i: Int => i
      case _ => fail("NULL")
    }
  }

  /** Long-geometry variant of intLit: accepts a foldable INT or BIGINT
    * literal. graft_gram_buckets / graft_lm_familiarity take a bucket
    * count that is Long-ranged in the Scala API (TextOps.trigramFamiliarity
    * signature); forcing it through intLit silently shrank the accepted
    * range to Int (round-20 advice) — restore the full Long range here.
    */
  private def longLit(fn: String, arg: String, e: Expression): Long = {
    def fail(got: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "_LEGACY_ERROR_TEMP_3102",
        Map("msg" ->
          (s"$fn: argument <$arg> must be a foldable INT or BIGINT literal " +
            s"(plan-time geometry, not per-row data); got $got")))
    if (!e.foldable) fail(s"non-foldable expression ${e.sql}")
    else if (e.dataType != IntegerType && e.dataType != LongType)
      fail(s"type ${e.dataType.simpleString}")
    else e.eval(null) match {
      case i: Int  => i.toLong
      case l: Long => l
      case _ => fail("NULL")
    }
  }

  /** Arity gate for the registration lambdas: every builder below indexes
    * `cs(i)` positionally, so ad-hoc SQL calling with too few args hit an
    * opaque IndexOutOfBoundsException from inside function resolution
    * (round-14 advice) — reject with the same named AnalysisException
    * intLit raises. `maxN` covers the optional-trailing-arg forms
    * (graft_lsh_bucket's bits defaulting).
    */
  private def arity(fn: String, n: Int, maxN: Int = -1)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression = {
    val hi = if (maxN < 0) n else maxN
    cs =>
      if (cs.length >= n && cs.length <= hi) b(cs)
      else throw new org.apache.spark.sql.AnalysisException(
        "_LEGACY_ERROR_TEMP_3102",
        Map("msg" -> (s"$fn expects " +
          (if (hi == n) s"$n argument(s)" else s"$n to $hi arguments") +
          s", got ${cs.length}")))
  }

  private val longArr = ArrayType(LongType, containsNull = false)
  private val strArr = ArrayType(StringType, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private val vecExpects = Some("array<float> or array<double> arguments of one element type")

  import Ty._

  /** The scalar kernels, one row per SQL function. Result nullability is
    * the inputs' unless the kernel itself may return null (`nulls`); see
    * each TextHash/VecOps method for when it does.
    */
  val kernels: Seq[Kernel] = Seq(
    Kernel("graft_poly_hash", Seq(str), LongType, TextHash, "polyHash"),
    Kernel("graft_token_hashes", Seq(str), longArr, TextHash, "tokenHashes"),
    Kernel("graft_minhash_sig", Seq(str), longArr, TextHash, "minHashSig", nulls = true),
    Kernel("graft_gram5_distinct", Seq(str), longArr, TextHash, "gram5Distinct",
      nulls = true),
    Kernel("graft_gram_chain", Seq(str, Lit("n", 1)), longArr, TextHash, "gramChain",
      nulls = true),
    Kernel("graft_sorted_hits", Seq(arr(LongType), arr(LongType)), IntegerType,
      TextHash, "sortedHits"),
    Kernel("graft_bloom_hits", Seq(arr(LongType), arr(LongType), Lit("k", 1, 16)),
      IntegerType, TextHash, "bloomHits"),
    Kernel("graft_winnow", Seq(str, Lit("n", 1), Lit("w", 1)),
      ArrayType(struct("p" -> IntegerType, "g" -> LongType), containsNull = false),
      TextHash, "winnow", nulls = true),
    Kernel("graft_simhash", Seq(str), LongType, TextHash, "simHash"),
    Kernel("graft_rep_stats", Seq(str), struct("n_tokens" -> IntegerType,
      "n_uniq_tokens" -> IntegerType, "top_tok_n" -> IntegerType,
      "top_bigram_n" -> IntegerType), TextHash, "repStats"),
    Kernel("graft_passages", Seq(str, int), strArr, TextHash, "passages",
      positive = Some("passage width")),
    Kernel("graft_quarter_means", Seq(str), ArrayType(DoubleType, containsNull = false),
      TextHash, "quarterMeans", nulls = true),
    Kernel("graft_edge_ngrams", Seq(str), struct("n_grams" -> IntegerType,
      "n_uniq_grams" -> IntegerType, "first5_grams" -> StringType),
      TextHash, "edgeNgramStats"),
    Kernel("graft_cos", Seq(vec, vec), DoubleType, VecOps, "cosF", nulls = true,
      doubleMethod = Some("cosD"), expects = vecExpects),
    Kernel("graft_l2", Seq(vec, vec), DoubleType, VecOps, "d2F", nulls = true,
      doubleMethod = Some("d2D"), expects = vecExpects),
    Kernel("graft_adc_term", Seq(arr(DoubleType), arr(DoubleType), codebook,
      Lit("off", 0), Lit("len", 1)), DoubleType, VecOps, "adcTermD", nulls = true),
    Kernel("graft_best_cell", Seq(arr(DoubleType), codebook),
      struct("dd" -> DoubleType, "c" -> IntegerType), VecOps, "bestCellD",
      nulls = true),
    Kernel("graft_code", Seq(arr(DoubleType), codebook, Lit("off", 0), Lit("len", 1)),
      IntegerType, VecOps, "codeD", nulls = true),
    Kernel("graft_q127", Seq(vec), longArr, VecOps, "q127F", nulls = true,
      doubleMethod = Some("q127D"), expects = vecExpects),
    Kernel("graft_doti", Seq(arr(LongType), arr(LongType)), LongType, VecOps, "dotI",
      nulls = true, expects = Some("two array<bigint> arguments")),
    // plane count: 0 puts every vector in one cell (quadratic blocking);
    // > 30 overflows the Int bucket and breaks higher-bits-refine-lower
    Kernel("graft_lsh_bucket", Seq(vec, Lit("bits", 1, 30, default = Some(8))),
      IntegerType, VecOps, "lshBucket", doubleMethod = Some("lshBucketD"),
      expects = vecExpects),
    Kernel("graft_kmv_union_est", Seq(bin, bin), DoubleType, KmvBuffer,
      "unionEstimate", expects = Some("two binary sketch arguments")),
    Kernel("graft_dhash", Seq(str, Lit("bits", 1, 62)), LongType, TextHash, "dHash",
      nulls = true),
    Kernel("graft_byte_minhash", Seq(str, Lit("k", 1, 64)), LongType, TextHash,
      "byteMinhash", nulls = true),
    Kernel("graft_byte_minhash_arr", Seq(str, Lit("k", 1, 64), Lit("n", 1, 20)),
      longArr, TextHash, "byteMinhashArr", nulls = true),
    Kernel("graft_byte_grams", Seq(str, Lit("k", 1, 64)), longArr, TextHash,
      "byteGramChain", nulls = true),
    Kernel("graft_gram_hits", Seq(str, arr(StringType)), IntegerType, TextHash,
      "gramHits"),
    Kernel("graft_pack_gram", Seq(str), LongType, TextHash, "packGram"),
    Kernel("graft_gram_hits_all", Seq(str, profiles, Lit("nlangs", 1, 4096)),
      ArrayType(IntegerType, containsNull = false), TextHash, "gramHitsAll"),
    // the bucket count m is Long-ranged (TextOps.trigramFamiliarity)
    Kernel("graft_gram_buckets", Seq(str, Lit("n", 1, 64), Lit("m", 1, long = true)),
      longArr, TextHash, "gramBuckets", nulls = true),
    Kernel("graft_lm_familiarity", Seq(str, Lit("n", 1, 64), Lit("m", 1, long = true),
      arr(LongType), arr(LongType)),
      struct("n_tris" -> LongType, "familiarity" -> LongType), TextHash,
      "lmFamiliarity", nulls = true),
    Kernel("graft_thumb", Seq(str, int), StringType, TextHash, "thumbHex",
      positive = Some("byte budget")),
    Kernel("graft_hex_tiles", Seq(str, int), strArr, TextHash, "hexTiles",
      positive = Some("tile byte width")),
    // field names derive from the kernel's term lists, so the kernel and
    // the query column lists cannot drift
    Kernel("graft_block_scrub", Seq(str), struct(
      TextHash.blockTerms.map(t =>
        ("n_" + t.toLowerCase.replaceAll("[^a-z0-9]+", "_")) -> IntegerType) ++
        Seq("n_hits" -> IntegerType, "scrub" -> StringType): _*),
      TextHash, "blockScrub"),
    Kernel("graft_lang_scores", Seq(str), struct(
      TextHash.langMarkers.map { case (lang, _) => s"s_$lang" -> LongType }: _*),
      TextHash, "langScores"),
    Kernel("graft_quality_stats", Seq(str), struct("n_space" -> IntegerType,
      "n_punct" -> IntegerType, "n_stop" -> IntegerType), TextHash, "qualityStats"),
    Kernel("graft_bpeish_stats", Seq(str), struct("n_bpeish" -> IntegerType,
      "n_uniq_bpeish" -> IntegerType, "n_ws_tokens" -> IntegerType),
      TextHash, "bpeishStats"),
    Kernel("graft_scrub_passages", Seq(str, Lit("w", 1), arr(StringType)),
      struct("clean_text" -> StringType, "n_removed" -> LongType), TextHash,
      "scrubPassages"),
    Kernel("graft_tok_df", Seq(str, arr(StringType), arr(LongType)),
      struct("n_toks" -> LongType, "sum_df" -> LongType), TextHash, "tokDf"),
    Kernel("graft_oov_stats", Seq(str, arr(StringType)),
      struct("n_tokens" -> LongType, "n_oov" -> LongType), TextHash, "oovStats"),
    Kernel("graft_norm_text", Seq(str), StringType, TextHash, "normText"),
    Kernel("graft_distinct_tokens", Seq(str), strArr, TextHash, "distinctTokens"),
    Kernel("graft_passages_distinct", Seq(str, Lit("w", 1)), strArr, TextHash,
      "passagesDistinct"),
    Kernel("graft_bpe_merge", Seq(arr(StringType), str, str), strArr, TextHash,
      "bpeMerge"))

  private val byName: Map[String, Kernel] = kernels.map(k => k.name -> k).toMap
  def kernel(name: String): Kernel = byName(name)

  /** Checks the literal arguments (filling an omitted default) and folds
    * each to a [[Literal]] child.
    */
  private def build(k: Kernel)(cs: Seq[Expression]): Expression = {
    val full = cs ++ k.args.drop(cs.length).collect {
      case Lit(_, _, _, _, Some(d)) => Literal(d)
    }
    KernelExpr(k.name, full.zip(k.args).map {
      case (e, l: Lit) =>
        val v = if (l.long) longLit(k.name, l.name, e) else intLit(k.name, l.name, e).toLong
        require(v >= l.lo && v <= l.hi, s"${k.name} ${l.name}=$v " +
          (if (l.hi == Long.MaxValue) s"must be >= ${l.lo}"
           else s"out of range [${l.lo}, ${l.hi}]"))
        if (l.long) Literal(v) else Literal(v.toInt)
      case (e, _) => e
    })
  }

  val fns: Seq[(String, Seq[Expression] => Expression)] =
    kernels.map(k => k.name -> arity(k.name, k.minArgs, k.args.length)(build(k))) ++ Seq(
    // mergeable KMV distinct sketch (analyzer wraps the raw AggregateFunction)
    "graft_kmv"          -> arity("graft_kmv", 1)(cs => KmvSketchAgg(cs.head, KmvBuffer.DefaultK)),
    // mergeable k-means centroid accumulator; trailing k is an int literal
    "graft_centroids"    -> arity("graft_centroids", 3)(cs => CentroidSumAgg(cs(0), cs(1),
      intLit("graft_centroids", "k", cs(2)))),
    // generators (table functions): trailing args must be int literals
    "graft_token_windows" -> arity("graft_token_windows", 3)(cs => TokenWindowsExpr(cs(0),
      intLit("graft_token_windows", "width", cs(1)),
      intLit("graft_token_windows", "stride", cs(2)))),
    "graft_char_grams"   -> arity("graft_char_grams", 2)(cs => CharGramsExpr(cs(0),
      intLit("graft_char_grams", "n", cs(1))))
  )

  /** Idempotent and cheap: safe to call at the head of every query builder.
    * The last function registered is the sentinel, so a session that has
    * it (from an earlier call or from [[GraftExtensions]]) has them all.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(fns.last._1)))
      fns.foreach { case (name, builder) =>
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo("graft.functions.GraftExpressions", name), builder)
      }
  }
}

/** Library entry point for session-builder wiring: sessions created with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) expose every graft_* function in
  * SQL without an explicit register() call.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftExpressions", name),
        builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKFilterPushdown)
  }
}
