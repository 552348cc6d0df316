package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two `ARRAY<FLOAT>` columns.
  *
  * The composable form — `aggregate(zip_with(a, b, (x,y) -> x*y), 0D,
  * (acc,p) -> acc+p)` — evaluates higher-order lambdas per element outside
  * whole-stage codegen; at 100 TB of embeddings that interpreter overhead
  * dominates the arithmetic. This expression generates a tight primitive
  * loop instead (SURVEY.md §4.2 "custom Expression" rung of the preference
  * ladder: compose built-ins first, drop to codegen only where measured).
  *
  * Arithmetic contract (bit-compatible with the HOF form and the DuckDB
  * oracle): multiply in FLOAT, accumulate in DOUBLE, element order.
  * Null array → null; any null element → null (matches zip_with+aggregate
  * propagation); mismatched lengths → null (zip_with would null-pad and
  * poison the sum to null anyway — and a silent prefix-dot would hide
  * data corruption in fixed-dim embedding tables).
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {
  // input typing is enforced by the registry builder, which wraps both
  // arguments in Cast(_, ARRAY<FLOAT>) — analysis fails there on
  // non-castable inputs (ExpectsInputTypes is sql-private in Spark 4)

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i) * y.getFloat(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $x.getFloat($i) * $y.getFloat($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_dot"
}

/** The engine's custom functions, usable from `expr(...)`/SQL in every
  * session [[GraftExtensions]] installs them in. */
object GraftFunctions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "vector_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vector_dot expects 2 arguments")
        val at = ArrayType(FloatType, containsNull = true)
        FloatVectorDot(Cast(args.head, at), Cast(args(1), at))
      }),
    (new FunctionIdentifier("vector_sub"),
      new ExpressionInfo(classOf[FloatVectorSub].getName, "vector_sub"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vector_sub expects 2 arguments")
        val at = ArrayType(FloatType, containsNull = true)
        FloatVectorSub(Cast(args.head, at), Cast(args(1), at))
      }),
    (new FunctionIdentifier("ahash64"),
      new ExpressionInfo(classOf[AHash64].getName, "ahash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "ahash64 expects 1 argument")
        AHash64(Cast(args.head, ArrayType(FloatType, containsNull = true)))
      }),
    (new FunctionIdentifier("minhash_sketch"),
      new ExpressionInfo(classOf[MinHashSketch].getName, "minhash_sketch"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "minhash_sketch expects (token, k[, mode])")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sketch k must be an integer literal, got $other")
        }
        val mode =
          if (args.length < 3) "xxhash64"
          else args(2) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString
            case other => throw new IllegalArgumentException(
              s"minhash_sketch mode must be a string literal, got $other")
          }
        MinHashSketch(Cast(args.head, org.apache.spark.sql.types.StringType), k, mode)
          .toAggregateExpression()
      }),
    (new FunctionIdentifier("bigram_fluency"),
      new ExpressionInfo(classOf[BigramFluency].getName, "bigram_fluency"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "bigram_fluency expects (h, c1, c2)")
        val at = ArrayType(org.apache.spark.sql.types.LongType,
          containsNull = true)
        BigramFluency(Cast(args.head, at), Cast(args(1), at), Cast(args(2), at))
      }),
    (new FunctionIdentifier("bigram_counts"),
      new ExpressionInfo(classOf[BigramCountsAgg].getName, "bigram_counts"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "bigram_counts expects (h, B1, B2)")
        def litInt(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"bigram_counts $what must be an integer literal, got $other")
        }
        val at = ArrayType(org.apache.spark.sql.types.LongType,
          containsNull = true)
        BigramCountsAgg(Cast(args.head, at),
          litInt(args(1), "B1"), litInt(args(2), "B2"))
          .toAggregateExpression()
      }),
    (new FunctionIdentifier("bpe_top_pair"),
      new ExpressionInfo(classOf[BpeTopPairAgg].getName, "bpe_top_pair"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "bpe_top_pair expects (seq, cnt)")
        BpeTopPairAgg(
          Cast(args.head, org.apache.spark.sql.types.StringType),
          Cast(args(1), org.apache.spark.sql.types.LongType))
          .toAggregateExpression()
      }),
    (new FunctionIdentifier("dsir_score"),
      new ExpressionInfo(classOf[DsirScore].getName, "dsir_score"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dsir_score expects (tc, wv)")
        val tcT = ArrayType(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tf",
            org.apache.spark.sql.types.LongType))))
        DsirScore(Cast(args.head, tcT),
          Cast(args(1), ArrayType(org.apache.spark.sql.types.LongType)))
      }),
    (new FunctionIdentifier("dsir_counts"),
      new ExpressionInfo(classOf[DsirCountsAgg].getName, "dsir_counts"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "dsir_counts expects (tc, is_target, B)")
        val b = args(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"dsir_counts B must be an integer literal, got $other")
        }
        val tcT = ArrayType(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tf",
            org.apache.spark.sql.types.LongType))))
        DsirCountsAgg(Cast(args.head, tcT),
          Cast(args(1), org.apache.spark.sql.types.BooleanType), b)
          .toAggregateExpression()
      }),
    (new FunctionIdentifier("probe_gram"),
      new ExpressionInfo(classOf[ProbeGramAgg].getName, "probe_gram"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "probe_gram expects (tc, y, B, FS)")
        def litInt(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"probe_gram $what must be an integer literal, got $other")
        }
        val tcT = ArrayType(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tf",
            org.apache.spark.sql.types.LongType))))
        ProbeGramAgg(Cast(args.head, tcT),
          Cast(args(1), org.apache.spark.sql.types.LongType),
          litInt(args(2), "B"), litInt(args(3), "FS"))
          .toAggregateExpression()
      }),
    (new FunctionIdentifier("probe_score"),
      new ExpressionInfo(classOf[ProbeScore].getName, "probe_score"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "probe_score expects (tc, wv, FS)")
        val fs = args(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"probe_score FS must be an integer literal, got $other")
        }
        val tcT = ArrayType(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tf",
            org.apache.spark.sql.types.LongType))))
        ProbeScore(Cast(args.head, tcT),
          Cast(args(1), ArrayType(org.apache.spark.sql.types.DoubleType)), fs)
      }),
    (new FunctionIdentifier("term_df"),
      new ExpressionInfo(classOf[TermDfAgg].getName, "term_df"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          "term_df expects (tc array[, min_df])")
        val minDf = if (args.length < 2) 1L else args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
            v.toLong
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
          case other => throw new IllegalArgumentException(
            s"term_df min_df must be an integer literal, got $other")
        }
        TermDfAgg(args.head, minDf).toAggregateExpression()
      }),
    (new FunctionIdentifier("tfidf_topk"),
      new ExpressionInfo(classOf[TfidfTopK].getName, "tfidf_topk"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "tfidf_topk expects (tc, terms, dfs, n_docs, k)")
        val k = args(4) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"tfidf_topk k must be an integer literal, got $other")
        }
        val lt = org.apache.spark.sql.types.LongType
        val tcT = ArrayType(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tf", lt))))
        TfidfTopK(Cast(args.head, tcT),
          Cast(args(1), ArrayType(org.apache.spark.sql.types.StringType)),
          Cast(args(2), ArrayType(lt)),
          Cast(args(3), lt), k)
      }),
    (new FunctionIdentifier("arg_last_event"),
      new ExpressionInfo(classOf[ArgLastEventAgg].getName, "arg_last_event"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "arg_last_event expects (cond, tsu, event_id, event_type, value)")
        val lt = org.apache.spark.sql.types.LongType
        ArgLastEventAgg(
          Cast(args.head, org.apache.spark.sql.types.BooleanType),
          Cast(args(1), lt), Cast(args(2), lt),
          Cast(args(3), org.apache.spark.sql.types.StringType),
          Cast(args(4), org.apache.spark.sql.types.DoubleType))
          .toAggregateExpression()
      }),
    (new FunctionIdentifier("md5_low63"),
      new ExpressionInfo(classOf[Md5Low63].getName, "md5_low63"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "md5_low63 expects 1 argument")
        Md5Low63(Cast(args.head, org.apache.spark.sql.types.StringType))
      }),
    (new FunctionIdentifier("md5_high63"),
      new ExpressionInfo(classOf[Md5High63].getName, "md5_high63"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "md5_high63 expects 1 argument")
        Md5High63(Cast(args.head, org.apache.spark.sql.types.StringType))
      }),
    (new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "winnow_fps"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "winnow_fps expects (text, gramLen, window)")
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"winnow_fps $what must be an integer literal, got $other")
        }
        WinnowFingerprint(Cast(args.head, org.apache.spark.sql.types.StringType),
          intLit(args(1), "gramLen"), intLit(args(2), "window"))
      }),
    (new FunctionIdentifier("shingle_sig"),
      new ExpressionInfo(classOf[ShingleSig].getName, "shingle_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "shingle_sig expects 1 argument")
        ShingleSig(Cast(args.head, org.apache.spark.sql.types.StringType))
      }),
    (new FunctionIdentifier("shingle_sig_set"),
      new ExpressionInfo(classOf[ShingleSigSet].getName, "shingle_sig_set"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "shingle_sig_set expects 1 argument")
        ShingleSigSet(Cast(args.head, org.apache.spark.sql.types.StringType))
      }),
    (new FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleSetOnly].getName, "shingle_set"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "shingle_set expects 1 argument")
        ShingleSetOnly(Cast(args.head, org.apache.spark.sql.types.StringType))
      }),
    (new FunctionIdentifier("shingle_minhash"),
      new ExpressionInfo(classOf[ShingleMinHash].getName, "shingle_minhash"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "shingle_minhash expects (text, k)")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"shingle_minhash k must be an integer literal, got $other")
        }
        ShingleMinHash(Cast(args.head, org.apache.spark.sql.types.StringType), k)
      }),
    (new FunctionIdentifier("word_grams"),
      new ExpressionInfo(classOf[WordGramSet].getName, "word_grams"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "word_grams expects (text, n)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_grams n must be an integer literal, got $other")
        }
        WordGramSet(Cast(args.head, org.apache.spark.sql.types.StringType), n)
      }),
    (new FunctionIdentifier("word_grams_pos"),
      new ExpressionInfo(classOf[WordGramsPos].getName, "word_grams_pos"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "word_grams_pos expects (text, n)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_grams_pos n must be an integer literal, got $other")
        }
        WordGramsPos(Cast(args.head, org.apache.spark.sql.types.StringType), n)
      }),
    (new FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "repetition_stats expects 1 argument")
        RepetitionStats(Cast(args.head, org.apache.spark.sql.types.StringType))
      }),
    (new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash16 expects 1 argument")
        SimHash16(Cast(args.head, org.apache.spark.sql.types.StringType))
      }),
    (new FunctionIdentifier("topk_by"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "topk_by expects (score, id, k)")
        val k = args(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"topk_by k must be an integer literal, got $other")
        }
        TopKByScore(Cast(args.head, DoubleType),
          Cast(args(1), org.apache.spark.sql.types.LongType), k)
          .toAggregateExpression()
      }),
    (new FunctionIdentifier("term_counts"),
      new ExpressionInfo(classOf[TermCounts].getName, "term_counts"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "term_counts expects 1 argument")
        TermCounts(Cast(args.head, org.apache.spark.sql.types.StringType))
      }),
    (new FunctionIdentifier("query_term_stats"),
      new ExpressionInfo(classOf[QueryTermStats].getName, "query_term_stats"),
      (args: Seq[Expression]) => {
        require(args.length >= 2, "query_term_stats expects (text, term, ...)")
        val terms = args.tail.map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
            v.toString
          case other => throw new IllegalArgumentException(
            s"query_term_stats terms must be string literals, got $other")
        }
        QueryTermStats(Cast(args.head, org.apache.spark.sql.types.StringType), terms)
      }),
    (new FunctionIdentifier("hplane_sig"),
      new ExpressionInfo(classOf[HyperplaneSig].getName, "hplane_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "hplane_sig expects (embedding, nPlanes)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"hplane_sig nPlanes must be an integer literal, got $other")
        }
        HyperplaneSig(
          Cast(args.head, ArrayType(FloatType, containsNull = true)), n)
      }))
}

/** The one install path of [[GraftFunctions.functions]] and the
  * [[graft.plans.PartitionDateRewrite]] optimizer rule: `spark.sql.extensions`
  * injection into every session [[graft.GraftSession]] builds, and into each
  * session cloned or derived from one (`newSession`, a streaming
  * `foreachBatch` clone). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.PartitionDateRewrite)
  }
}
