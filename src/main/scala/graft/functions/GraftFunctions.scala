package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** One graft scalar SQL function: a static method on `owner` ([[TextHash]]
  * or [[VectorKernels]]) plus the analysis rules around it. A row of
  * [[GraftFunctions.kernels]].
  *
  * @param expects  the accepted argument types as the type-check failure
  *                 names them: "`name` expects `expects`, got <types>"
  * @param result   the result type, from the argument types
  * @param nullable the method may return NULL for non-null arguments: a
  *                 null reference, or [[VectorKernels.isNull]]'s value for
  *                 a primitive result
  * @param foldable positions of arguments that must be constant; their
  *                 values reach the method through `consts`, not per row
  * @param consts   trailing method arguments derived once from the
  *                 arguments (float/double flags, a width, a cell count)
  * @param parens   the failure message lists the types in parentheses
  * @param accepts  matches the accepted argument lists
  */
private[graft] final case class KernelRow(
    name: String,
    owner: String,
    method: String,
    expects: String,
    result: Seq[DataType] => DataType,
    nullable: Boolean = false,
    foldable: Seq[Int] = Nil,
    consts: Seq[Expression] => Seq[Any] = _ => Nil,
    parens: Boolean = false)(
    val accepts: PartialFunction[Seq[Expression], Unit]) {

  def failure(args: Seq[Expression]): String = {
    val got = args.map(_.dataType.sql) ++
      foldable.flatMap(args.lift).map(a => s"foldable=${a.foldable}")
    s"$name expects $expects, got " +
      (if (parens) got.mkString("(", ", ", ")") else got.mkString(", "))
  }

  def ownerClass: Class[_] = Class.forName(s"graft.functions.$owner")
}

/** Every graft scalar SQL function: [[GraftFunctions.kernels]] row
  * `name` applied to `children`.
  *
  * Whole-stage codegen emits one null-safe static call,
  * `value = graft.functions.<owner>.<method>(args);`, in the shape of
  * Spark's Unary/Binary/TernaryExpression `nullSafeCodeGen`. Interpreted
  * evaluation invokes the same method, so a kernel's algorithm exists
  * once. The method is resolved during analysis: a row whose method does
  * not take the argument types fails `checkInputDataTypes`, never an
  * executor.
  */
case class GraftKernel(name: String, children: Seq[Expression]) extends Expression {
  @transient private lazy val kernel = GraftFunctions.kernel(name)
  @transient private lazy val consts: Seq[Any] = kernel.consts(children)
  /** Children whose per-row values are method arguments. */
  @transient private lazy val perRow: Seq[Int] =
    children.indices.filterNot(kernel.foldable.contains)

  @transient private lazy val method: Method = {
    val params = perRow.map(i => CodeGenerator.javaClass(children(i).dataType)) ++
      consts.map {
        case _: Boolean => java.lang.Boolean.TYPE
        case _: Int => java.lang.Integer.TYPE
        case _: Long => java.lang.Long.TYPE
      }
    val m = kernel.ownerClass.getMethod(kernel.method, params: _*)
    require(Modifier.isStatic(m.getModifiers) &&
      CodeGenerator.javaClass(dataType).isAssignableFrom(m.getReturnType),
      s"$m is not static or does not return ${dataType.sql}")
    m
  }

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def dataType: DataType = kernel.result(children.map(_.dataType))
  override def nullable: Boolean = kernel.nullable || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!kernel.accepts.isDefinedAt(children)) TypeCheckFailure(kernel.failure(children))
    else scala.util.Try(method).fold(e => TypeCheckFailure(s"$name: $e"), _ => TypeCheckSuccess)

  /** [[method]]'s arguments: `null` at each per-row slot, then `consts`. */
  @transient private lazy val argTemplate: Array[AnyRef] =
    (perRow.map(_ => null) ++ consts.map(_.asInstanceOf[AnyRef])).toArray
  @transient private lazy val perRowChildren: Array[Expression] = perRow.map(children).toArray

  // Interpreted evaluation is the hot path where a kernel runs inside a
  // lambda (`transform(..., m -> graft_kmeans_argmin(...))`: higher-order
  // functions do not generate code), so a row costs one array copy and one
  // reflective call. The copy, not a per-expression buffer, keeps an
  // instance safe to evaluate from two threads. A foldable child is
  // non-null and reaches the method through `consts`.
  override def eval(input: InternalRow): Any = {
    val args = argTemplate.clone()
    var i = 0
    while (i < perRowChildren.length) {
      val v = perRowChildren(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    val r = try method.invoke(null, args: _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    if (!kernel.nullable) r
    else r match {
      case d: java.lang.Double if VectorKernels.isNull(d.doubleValue) => null
      case l: java.lang.Long if VectorKernels.isNull(l.longValue) => null
      case _ => r
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val args = perRow.map(i => gens(i).value.toString) ++ consts.map {
      case l: Long => s"${l}L"
      case c => c.toString
    }
    val javaType = CodeGenerator.javaType(dataType)
    val nullResult =
      if (!kernel.nullable) ""
      else if (CodeGenerator.isPrimitiveType(dataType))
        s"\nif (graft.functions.VectorKernels.isNull(${ev.value})) { ${ev.isNull} = true; }"
      else s"\nif (${ev.value} == null) { ${ev.isNull} = true; }"
    val call = s"${ev.value} = graft.functions.${kernel.owner}.${kernel.method}(" +
      s"${args.mkString(", ")});$nullResult"
    if (!nullable) {
      ev.copy(code = code"""
        ${Block.blocksToBlock(gens.map(_.code))}
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $call""", isNull = FalseLiteral)
    } else if (children.length == 1) {
      val g = gens.head
      ev.copy(code = code"""
        ${g.code}
        boolean ${ev.isNull} = ${g.isNull};
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        ${ctx.nullSafeExec(children.head.nullable, g.isNull)(call)}
      """)
    } else {
      val nullSafeEval = children.indices.foldRight(s"""
              ${ev.isNull} = false; // resultCode could change nullability.
              $call
            """) { (i, inner) =>
        gens(i).code.toString + ctx.nullSafeExec(children(i).nullable, gens(i).isNull)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $nullSafeEval
      """)
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): GraftKernel =
    copy(children = c)
}

/** graft's SQL functions and their session registration.
  *
  * [[kernels]] is the table of scalar functions, one row per SQL name,
  * each evaluated by [[GraftKernel]]; [[builders]] adds the two
  * aggregates ([[CappedLongCollect]], [[ArgMaxLast2]]) and feeds both
  * registration paths: [[register]] (temp functions on an existing
  * session, what `Tables.load` calls) and [[graft.GraftExtensions]]
  * (`spark.sql.extensions` injection at session build time, the
  * spark-submit/cluster path).
  *
  * [[register]] is idempotent per session: [[graft.Tables.load]] calls it
  * on every load (any SparkSession may be passed in), but
  * re-registration is skipped once THIS register() has run for the
  * session — otherwise every call logs a "replaced a previously
  * registered function" WARN per function. The sentinel is a weak
  * session-keyed set, not the presence of one particular function (a
  * name-presence probe would skip functions appended after an older
  * register() already ran).
  */
object GraftFunctions {
  private object Type { def unapply(e: Expression): Some[DataType] = Some(e.dataType) }
  /** array<string>, nulls allowed. */
  private object Words {
    def unapply(e: Expression): Boolean = e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
  }
  private object Vec {
    def unapply(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
  }
  /** A constant, non-null int or bigint argument. */
  private object Const {
    def unapply(e: Expression): Option[Long] =
      if (!e.foldable || !(e.dataType == IntegerType || e.dataType == LongType)) None
      else Option(e.eval()).map(_.asInstanceOf[Number].longValue)
  }
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Doubles = ArrayType(DoubleType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private def structs(fields: (String, DataType)*): ArrayType =
    ArrayType(struct(fields: _*), containsNull = false)

  private val Text = "TextHash"
  private val Vectors = "VectorKernels"
  private val words: PartialFunction[Seq[Expression], Unit] = { case Seq(Words()) => }
  private val string: PartialFunction[Seq[Expression], Unit] = { case Seq(Type(StringType)) => }

  /** The scalar functions. Array and struct results carry no nulls
    * unless a row says otherwise. Containers without nulls are required
    * where a null token or model row would throw inside the kernel. */
  private[graft] val kernels: Seq[KernelRow] = Seq(
    KernelRow("graft_ph", Text, "phLong", "string", _ => LongType)(string),
    KernelRow("graft_hll_rho", Text, "hllRho", "bigint", _ => IntegerType) {
      case Seq(Type(LongType)) => },
    KernelRow("graft_simhash48", Text, "simhash48", "array<string>", _ => LongType)(words),
    KernelRow("graft_minhash_sig", Text, "minhashSigData", "array<string>", _ => Longs)(words),
    KernelRow("graft_minhash_bands", Text, "minhashBandsData", "array<string>",
      _ => Strings)(words),
    KernelRow("graft_shingles3", Text, "shingles3Data", "array<string>", _ => Strings)(words),
    KernelRow("graft_shingle_hashes3", Text, "shingleHashes3Data", "array<string>",
      _ => Longs)(words),
    // the window width parameterizes the posting family, so it is part
    // of the plan, not of the data; checked on the untruncated long, so
    // 4294967298L fails analysis instead of wrapping to 2
    KernelRow("graft_window_hashes", Text, "windowHashesData",
        s"(array<string> without nulls, foldable int in [1, ${Int.MaxValue}])", _ => Longs,
        foldable = Seq(1), consts = a => Seq(Const.unapply(a(1)).get.toInt), parens = true) {
      case Seq(Type(Strings), Const(w)) if w >= 1L && w <= Int.MaxValue =>
    },
    KernelRow("graft_chunk_fps", Text, "chunkFpsData", "binary", _ => Longs) {
      case Seq(Type(BinaryType)) => },
    KernelRow("graft_stop_scores", Text, "stopScoresData", "array<string>", _ => Longs)(words),
    KernelRow("graft_entropy_stats", Text, "entropyStatsData", "string", _ => Doubles)(string),
    KernelRow("graft_hash_vec", Text, "hashVecData", "array<string>", _ => Doubles)(words),
    KernelRow("graft_feat_hashes", Text, "featHashesData", "array<string>", _ => Longs)(words),
    KernelRow("graft_feat_counts", Text, "featCountsData", "array<string>",
      _ => structs("f" -> LongType, "c" -> LongType))(words),
    KernelRow("graft_bigram_counts", Text, "bigramCountsData", "array<string>",
      _ => structs("w1" -> StringType, "w2" -> StringType, "n" -> LongType))(words),
    KernelRow("graft_rep_stats", Text, "repStatsData", "array<string>",
      _ => struct("n_words" -> LongType, "n_distinct" -> LongType,
        "top_bigram_n" -> LongType, "n_bigrams" -> LongType))(words),
    KernelRow("graft_token_counts", Text, "tokenCountsData", "array<string> without nulls",
        _ => structs("w" -> StringType, "c" -> LongType)) {
      case Seq(Type(Strings)) => },
    KernelRow("graft_ws_token_count", Text, "wsTokenCount", "string", _ => LongType)(string),
    KernelRow("graft_distinct_tokens", Text, "distinctTokensData", "string",
      _ => Strings)(string),
    KernelRow("graft_pii_scrub", Text, "piiScrubData", "string",
      _ => struct("n_email" -> LongType, "n_ssn" -> LongType, "n_phone" -> LongType,
        "clean" -> StringType))(string),
    // the terms ride a broadcast 1-row cross join (see TextHash.tfInData)
    KernelRow("graft_tf_in", Text, "tfInData", "(array<string>, array<string>) without nulls",
        _ => structs("token" -> StringType, "tf" -> LongType), parens = true) {
      case Seq(Type(Strings), Type(Strings)) =>
    },
    // model field nullability is not pinned (aggregate-derived columns
    // surface nullable); the model build guarantees no null field
    KernelRow("graft_lm_doc_score", Text, "lmDocScoreData", "(array<string>, " +
        "array<struct<w1 string, w2 string, s_ppm bigint>>, bigint) without nulls",
        _ => struct("n_bigrams" -> LongType, "tot" -> LongType), parens = true) {
      case Seq(Type(Strings), Type(ArrayType(StructType(Array(StructField(_, StringType, _, _),
          StructField(_, StringType, _, _), StructField(_, LongType, _, _))), false)),
          Type(LongType)) =>
    },
    KernelRow("graft_bpe_apply", Text, "bpeApplyData",
        "(string, array<struct<rnk bigint, pair string, m string>>) without nulls",
        _ => StringType, parens = true) {
      case Seq(Type(StringType), Type(ArrayType(StructType(Array(StructField(_, LongType, _, _),
          StructField(_, StringType, _, _), StructField(_, StringType, _, _))), false))) =>
    },
    KernelRow("graft_dot", Vectors, "dot", "array<float|double> inputs", _ => DoubleType,
        nullable = true, consts = _.map(isFloat)) {
      case Seq(Vec(), Vec()) => },
    KernelRow("graft_hyperplane_bucket", Vectors, "hyperplaneBucket", "array<float|double>",
        _ => LongType, consts = a => Seq(isFloat(a.head))) {
      case Seq(Vec()) => },
    KernelRow("graft_ivf_cells", Vectors, "ivfCells", "array<float|double>", _ => Longs,
        consts = a => Seq(isFloat(a.head), PortableHash.IvfCells.toLong)) {
      case Seq(Vec()) => },
    // the cell count parameterizes the centroid family: part of the plan
    KernelRow("graft_ivf_cells_n", Vectors, "ivfCells", "(array<float|double>, foldable int)",
        _ => Longs, foldable = Seq(1), parens = true,
        consts = a => Seq(isFloat(a.head), Const.unapply(a(1)).get)) {
      case Seq(Vec(), Const(_)) => },
    KernelRow("graft_kmeans_argmin", Vectors, "kmeansArgmin",
        "(array<bigint>, array<struct<cid:int,cv:array<bigint>>>)", _ => LongType,
        nullable = true) {
      case Seq(Type(ArrayType(LongType, _)), Type(ArrayType(StructType(Array(
          StructField(_, IntegerType, _, _), StructField(_, ArrayType(LongType, _), _, _))), _))) =>
    },
    KernelRow("graft_quantize_vec", Vectors, "quantizeData", "array<float|double>", {
        case Seq(ArrayType(_, containsNull)) => ArrayType(LongType, containsNull)
        case _ => Longs
      }, consts = a => Seq(isFloat(a.head))) {
      case Seq(Vec()) => },
    KernelRow("graft_sq_xhat", Vectors, "sqXhatData", "three array<bigint> inputs", _ => Longs,
        nullable = true) {
      case Seq(Type(ArrayType(LongType, _)), Type(ArrayType(LongType, _)),
        Type(ArrayType(LongType, _))) =>
    })

  private val byName: Map[String, KernelRow] = kernels.map(k => k.name -> k).toMap

  private[functions] def kernel(name: String): KernelRow = byName(name)

  private val registered: java.util.Set[SparkSession] =
    java.util.Collections.synchronizedSet(java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Name → builder for every graft SQL function. */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] =
    kernels.map(k => k.name -> ((args: Seq[Expression]) => GraftKernel(k.name, args))) ++ Seq(
      "graft_collect_capped" -> (args => CappedLongCollect(args(0), args(1))),
      "graft_last_by2" -> (args => ArgMaxLast2(args(0), args(1), args(2))))

  def register(spark: SparkSession): Unit = registered.synchronized {
    // Mark the session only AFTER every function registers: a concurrent
    // first caller must not return early to a half-registered session,
    // and a mid-registration throw must leave the session retryable.
    if (registered.contains(spark)) return
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, b, "scala_udf")
    }
    registered.add(spark)
  }
}
