package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns as pure Column
  * expressions (native codegen'd expressions — no UDFs, no shuffle).
  *
  * Elements are widened float→double before any arithmetic and folded
  * sequentially, so results are deterministic and bit-identical to a
  * sequential oracle evaluation. The higher-order-function forms
  * (`aggregate` left folds) are `private[graft]`: they are the executable
  * specs the native expressions are tested against, not a public API.
  */
object VectorFunctions {

  /** Sequential left-fold sum of a double array expression. */
  private def fsum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two float-array columns, computed in double. */
  private[graft] def dotProduct(a: Column, b: Column): Column =
    fsum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  /** L2 norm of a float-array column, computed in double. */
  private[graft] def l2Norm(a: Column): Column =
    sqrt(fsum(transform(a, x => x.cast("double") * x.cast("double"))))

  /** Cosine similarity of two float-array columns (higher-order spec form
    * of [[cosineSimilarityNative]], identical results). */
  private[graft] def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine similarity as a native Catalyst expression — one codegen'd loop
    * instead of interpreted lambda chains; bit-identical to
    * [[cosineSimilarity]] (same sequential double accumulation). */
  def cosineSimilarityNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.plans.CosineSimilarityExpr(
        GraftSqlBridge.expression(a),
        GraftSqlBridge.expression(b)
      )
    )
  }

  /** Squared Euclidean distance (double; higher-order spec form of
    * [[squaredDistanceNative]]). */
  private[graft] def squaredDistance(a: Column, b: Column): Column =
    fsum(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }))

  /** Squared Euclidean distance as a native Catalyst expression — one
    * codegen'd loop, bit-identical to [[squaredDistance]]. */
  def squaredDistanceNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.plans.SquaredDistanceExpr(
        GraftSqlBridge.expression(a),
        GraftSqlBridge.expression(b)
      )
    )
  }

  /** Nearest centroid of a vector against a whole codebook in one
    * codegen'd loop nest: `struct(cluster, sq_dist)`, ties to the lowest
    * cluster id. Bit-identical to an array-of-[[squaredDistanceNative]]
    * argmin but stays inside codegen at ANY codebook size (the k-ary
    * array form blows Janino's method limits past a few hundred
    * centroids — see [[graft.plans.NearestCentroidExpr]]). */
  def nearestCentroid(v: Column, centroids: Seq[Seq[Float]]): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.plans.NearestCentroidExpr(GraftSqlBridge.expression(v), centroids)
    )
  }

  /** Sign-bit LSH bucket for a vector under the given hyperplanes: bit p is
    * set iff `v . plane(p) > 0`, packed into an int. Deterministic given the
    * planes; used by `Similarity.annTopK` and the embedding dedup paths to
    * prune the candidate set. Native codegen'd form — one loop nest over
    * all planes instead of one interpreted HOF fold per plane (see
    * [[hyperplaneBucketHof]] for the executable spec; results are
    * bit-identical for non-null vectors, asserted in tests). NULL vectors
    * yield a NULL bucket (the HOF form yields 0) — either way such rows
    * can never produce a qualifying pair, since every downstream cosine
    * against a NULL vector is NULL. */
  def hyperplaneBucket(v: Column, planes: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.plans.HyperplaneBucketExpr(GraftSqlBridge.expression(v), planes)
    )
  }

  /** Higher-order-function form of [[hyperplaneBucket]] — the executable
    * spec the native expression is tested against (same role as
    * [[cosineSimilarity]] vs [[cosineSimilarityNative]]). */
  private[graft] def hyperplaneBucketHof(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex
      .map { case (plane, p) =>
        when(dotProduct(v, typedlit(plane)) > 0, lit(1 << p)).otherwise(lit(0))
      }
      .reduce(_ + _)
}
