package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.tables.Tables

/** Internal-mechanism pins for the round-18 OPTIMIZATION diets. Each
  * dieted operator stays hash-gated by its DuckDB twin at sf0.01; these
  * tests additionally pin the restructured plan's mechanism against the
  * ORIGINAL formulation recomputed in-test, so a future edit that breaks
  * the equivalence argument (not just the fixture hash) fails loudly:
  *   - q_attribution_last replaced min(struct(gap_us, click_id)) with a
  *     hash-aggregable DECIMAL(38,0) packing — pinned row-equal to the
  *     struct-argmin form on the fixture;
  *   - q_semdedup replaced the within-cell self-join with group-and-expand
  *     — pinned row-equal to the self-join form;
  *   - connected components restrict the edge list to the universe with
  *     a one-time semi instead of a per-round inner join — pinned on an
  *     adversarial edge list whose endpoints include ids OUTSIDE the
  *     universe (the exact case the old per-round join silently handled),
  *     under both placements of [[DedupQueries.clusterLabels]].
  */
class R18OptSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("q_attribution_last: decimal-packed argmin equals the struct argmin") {
    val ev = Tables.events(spark, sfDir)
    val got = EventQueries.queries("q_attribution_last")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // the r17 struct-argmin form, recomputed over the same attribution feed
    val want = EventQueries.attributionOf(ev)
      .groupBy("user_id", "purchase_id", "amount")
      .agg(min(struct(col("gap_us"), col("click_id"))).as("b"))
      .select(col("user_id"), col("purchase_id"),
        col("b.click_id"), col("b.gap_us"), col("amount"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got.nonEmpty && got === want)
  }

  test("q_semdedup: group-and-expand equals the cell self-join") {
    graft.functions.GraftFunctions.register(spark)
    val got = SimilarityQueries.queries("q_semdedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // the r13 self-join form, recomputed
    val e = SimilarityQueries.ivfAssigned(spark, sfDir)
    val a = e.select(col("cell"), col("vec_id").as("id_a"),
      col("emb").as("ea"), col("nv").as("na"))
    val b = e.select(col("cell"), col("vec_id").as("id_b"),
      col("emb").as("eb"), col("nv").as("nb"))
    val want = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("cell"), col("id_b"),
        (expr("vector_dot(ea, eb)") / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= 0.25)
      .groupBy("id_b", "cell")
      .agg(count(lit(1)).as("n_dups"), max(col("cos")).as("max_cos"))
      .select(col("id_b"), col("cell"), col("n_dups"), col("max_cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got.nonEmpty && got === want)
  }

  test("clusterLabels: edge endpoints outside the universe neither " +
    "surface rows nor perturb labels") {
    import spark.implicits._
    // universe 0..9; edges chain 0-1-2, pair (5,6), PLUS junk edges whose
    // doc_a (100) and doc_b (200) are outside the universe, and one (-1)
    // that would relabel the chain if it were let in
    val universe = spark.range(0, 10).select(col("id").as("doc_id"))
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L), (100L, 1L), (5L, 200L),
      (-1L, 2L)).toDF("doc_a", "doc_b")
    val (got, star) = CcPlacements.both(spark) {
      CcPlacements.labelMap(DedupQueries.clusterLabels(universe, edges))
    }
    assert(got.keySet === (0L until 10L).toSet) // exactly the universe
    assert(got(0L) == 0L && got(1L) == 0L && got(2L) == 0L)
    assert(got(5L) == 5L && got(6L) == 5L)
    assert((3L to 4L).forall(i => got(i) == i) &&
      (7L to 9L).forall(i => got(i) == i))
    assert(got === star)
  }
}
