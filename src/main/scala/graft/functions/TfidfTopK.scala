package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document TF-IDF top-k — `tfidf_topk(tc, terms, dfs, n_docs, k)`.
  *
  * `tc` is the document's `term_counts(text)` array
  * (`array<struct<term,tf>>`); `terms`/`dfs` are the corpus vocabulary as
  * two parallel arrays SORTED ASCENDING by term (binary UTF8 order — the
  * order `sort_array` produces), typically delivered by ONE scalar-subquery
  * aggregate; `n_docs` the corpus document count. Returns the k highest
  * `tf * n_docs / df` entries as `array<struct<term,tf,df,score>>`, sorted
  * by (score DESC, term ASC) — the selection and order of
  * `ROW_NUMBER() OVER (ORDER BY score DESC, term)`, so `posexplode` + 1
  * IS the rank column.
  *
  * Why native: this turns the per-doc top-k from a corpus-wide
  * (doc_id, term, score) shuffle + regroup into a ROW-LOCAL computation —
  * the df vocabulary rides once per plan as a scalar, every document picks
  * its winners where it already sits, and the whole scoring side of
  * q_doc_tfidf has ZERO exchanges. Per entry the df lookup is a binary
  * search over the sorted vocabulary (O(log V) UTF8 compares — a map
  * literal's `element_at` linear-scans); top-k maintenance is bounded
  * insertion into a k-slot array. CodegenFallback is deliberate: one
  * evaluation per document with the loop inside, same trade as
  * [[BigramFluency]].
  *
  * Scale contract: the vocabulary scalar is bounded by DISTINCT terms, not
  * corpus size — the same boundedness argument as the DSIR dense-array
  * scalar. A corpus whose raw vocabulary outgrows the plan (web-scale typo
  * tails) can be pre-pruned in the q_doc_tfidf plan: `term_df`'s min-df
  * floor (`TextQueries.docTfidf`'s `minDf`, r10) drops the tail inside
  * the aggregate's final eval, before the scalar materializes; score
  * arithmetic `(double) tf * n_docs / df` is the twin's op order exactly.
  * A `tc` term absent from the vocabulary is skipped — no df → no score;
  * under a min-df floor that absence is exactly how sub-floor terms are
  * excluded from every document's top-k. Null in any argument → null row. */
case class TfidfTopK(tc: Expression, terms: Expression, dfs: Expression,
                     nDocs: Expression, k: Int)
    extends Expression with CodegenFallback {

  require(k > 0, s"tfidf_topk k must be positive, got $k")

  override def children: Seq[Expression] = Seq(tc, terms, dfs, nDocs)

  private val entryType = StructType(Seq(
    StructField("term", StringType, nullable = true),
    StructField("tf", LongType, nullable = false),
    StructField("df", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  override def dataType: DataType = ArrayType(entryType, containsNull = false)

  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val tcV = tc.eval(input)
    val termsV = terms.eval(input)
    val dfsV = dfs.eval(input)
    val nDocsV = nDocs.eval(input)
    if (tcV == null || termsV == null || dfsV == null || nDocsV == null)
      return null
    val tcArr = tcV.asInstanceOf[ArrayData]
    val vocab = termsV.asInstanceOf[ArrayData]
    val vocabDf = dfsV.asInstanceOf[ArrayData]
    val n = nDocsV.asInstanceOf[Long]
    val nVocab = vocab.numElements()

    // bounded top-k slots, kept sorted by (score desc, term asc)
    val sTerm = new Array[UTF8String](k)
    val sTf = new Array[Long](k)
    val sDf = new Array[Long](k)
    val sScore = new Array[Double](k)
    var used = 0

    val len = tcArr.numElements()
    var i = 0
    while (i < len) {
      val e = tcArr.getStruct(i, 2)
      if (e != null && !e.isNullAt(0)) {
        val term = e.getUTF8String(0)
        val tf = e.getLong(1)
        // binary search the sorted vocabulary (binary UTF8 order)
        var lo = 0
        var hi = nVocab - 1
        var found = -1
        while (lo <= hi && found < 0) {
          val mid = (lo + hi) >>> 1
          val c = vocab.getUTF8String(mid).compareTo(term)
          if (c == 0) found = mid
          else if (c < 0) lo = mid + 1
          else hi = mid - 1
        }
        if (found >= 0) {
          val df = vocabDf.getLong(found)
          val score = tf.toDouble * n / df
          // insertion position: after every slot that beats (score, term)
          var pos = used
          var p = 0
          var done = false
          while (p < used && !done) {
            if (score > sScore(p) ||
                (score == sScore(p) && term.compareTo(sTerm(p)) < 0)) {
              pos = p; done = true
            } else p += 1
          }
          if (pos < k) {
            val last = math.min(used, k - 1)
            var q = last
            while (q > pos) {
              sTerm(q) = sTerm(q - 1); sTf(q) = sTf(q - 1)
              sDf(q) = sDf(q - 1); sScore(q) = sScore(q - 1)
              q -= 1
            }
            // copy out of the (possibly reused) child buffer
            sTerm(pos) = UTF8String.fromBytes(term.getBytes)
            sTf(pos) = tf; sDf(pos) = df; sScore(pos) = score
            if (used < k) used += 1
          }
        }
      }
      i += 1
    }
    val out = new Array[Any](used)
    var j = 0
    while (j < used) {
      out(j) = new GenericInternalRow(
        Array[Any](sTerm(j), sTf(j), sDf(j), sScore(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TfidfTopK =
    copy(tc = newChildren(0), terms = newChildren(1), dfs = newChildren(2),
      nDocs = newChildren(3))

  override def prettyName: String = "tfidf_topk"
}
