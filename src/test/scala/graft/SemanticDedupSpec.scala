package graft

import org.apache.spark.sql.{functions => F}
import graft.operators.Dedup

/** C13 — SemDeDup: cluster-bounded semantic dedup. Pins the published
  * semantics on a hand-computed fixture (within-cell pairs only,
  * transitive chains collapse, keep = boundary member farthest from
  * the centroid), the singleton/no-pairs degenerate case, and the
  * scale contract (pairs never cross cells).
  */
class SemanticDedupSpec extends SparkSuite {
  import spark.implicits._

  private val centroids = Seq(
    (0L, Seq(1f, 0f, 0f, 0f)),
    (1L, Seq(0f, 1f, 0f, 0f))
  ).toDF("cell", "centroid")

  private val vecs = Seq(
    // cell 0: a 3-chain — v1 (archetype), v2 (boundary), v3 (scaled v1)
    (1L, Seq(1f, 0f, 0f, 0f)),
    (2L, Seq(0.9f, 0.1f, 0f, 0f)),
    (3L, Seq(2f, 0f, 0f, 0f)),
    // cell 1: two singletons — cosine(v4, v5) = 0.8 < tau
    (4L, Seq(0f, 1f, 0f, 0f)),
    (5L, Seq(0.6f, 0.8f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("semanticDedup: chains collapse, boundary member kept, singletons survive") {
    val r = Dedup.semanticDedup(vecs, "vec_id", "embedding", centroids, tau = 0.98)
      .orderBy("vec_id").collect()
    val byId = r.map(x => x.getLong(0) ->
      ((x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4)))).toMap

    // cells: v1, v2, v3 → 0 (x-dominant); v4, v5 → 1 (y-dominant)
    assert(Seq(1L, 2L, 3L).forall(byId(_)._1 === 0L))
    assert(Seq(4L, 5L).forall(byId(_)._1 === 1L))
    // one component {1, 2, 3} rooted at 1 (v2 connects to both: cos ≈ 0.994)
    assert(Seq(1L, 2L, 3L).forall(byId(_)._2 === 1L))
    assert(byId(4L)._2 === 4L && byId(5L)._2 === 5L)
    // keep rule: v2 is the boundary (ccos ≈ 0.994 < 1.0) — kept; the
    // archetype v1 and its scaled copy v3 (both ccos = 1.0) dropped
    assert(byId(2L)._4 && !byId(1L)._4 && !byId(3L)._4)
    assert(byId(2L)._3 < byId(1L)._3 - 1e-6)
    // singletons always keep
    assert(byId(4L)._4 && byId(5L)._4)
  }

  test("semanticDedup: tau above every pairwise cosine keeps everything as singletons") {
    val r = Dedup.semanticDedup(vecs, "vec_id", "embedding", centroids, tau = 1.01)
      .orderBy("vec_id").collect()
    assert(r.forall(_.getBoolean(4)))
    assert(r.map(x => x.getLong(0) -> x.getLong(2)).forall { case (id, comp) => id === comp })
  }

  test("semanticDedup: pairs never cross cells — near-identical vectors in different cells stay separate") {
    // v10 and v11 are the SAME direction but land in different cells
    // via the assignment tie structure; place them so each is nearest
    // a different centroid: not possible for identical vectors — so
    // use near-identical with a small y/x nudge across the boundary
    val cross = Seq(
      (10L, Seq(0.71f, 0.70f, 0f, 0f)), // x edges out → cell 0
      (11L, Seq(0.70f, 0.71f, 0f, 0f))  // y edges out → cell 1
    ).toDF("vec_id", "embedding")
    val r = Dedup.semanticDedup(cross, "vec_id", "embedding", centroids, tau = 0.98)
      .orderBy("vec_id").collect()
    // cosine(v10, v11) ≈ 0.9998 ≥ tau, but cells differ → no pair, both kept
    assert(r(0).getLong(1) === 0L && r(1).getLong(1) === 1L)
    assert(r.forall(_.getBoolean(4)))
  }

  test("semanticDedup fixture query: decorated replicas dedup against their bases, scale shape holds") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cent = e.filter(F.col("vec_id") % 128 === 3)
      .select(F.col("vec_id").as("cell"), F.col("embedding").as("centroid"))
    val r = Dedup.semanticDedup(faces.Kit.semanticFixture(e),
      "vec_id", "embedding", cent, tau = 0.98)
    val agg = r.agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.when(F.col("keep"), 1).otherwise(0)).as("kept"),
      F.sum(F.when(F.col("component") =!= F.col("vec_id"), 1).otherwise(0)).as("nonroot"))
      .collect().head
    val n = agg.getAs[Long]("n")
    val kept = agg.getAs[Long]("kept")
    assert(kept > 0 && kept < n, s"dedup must fire both ways: $kept/$n")
    // every decorated replica joins a component with its base
    val comps = r.filter(F.col("vec_id") >= 10000L)
      .select((F.col("vec_id") % 10000L).as("base"), F.col("component")).collect()
    assert(comps.nonEmpty)
    assert(comps.forall(x => x.getLong(1) === x.getLong(0)),
      "each replica's component root must be its base id")
    // exactly one keeper per component
    val bad = r.groupBy("component")
      .agg(F.sum(F.when(F.col("keep"), 1).otherwise(0)).as("k"))
      .filter(F.col("k") =!= 1).count()
    assert(bad === 0L)
  }
}
