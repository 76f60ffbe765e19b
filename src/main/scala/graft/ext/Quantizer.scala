package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fixed-point vector quantizer kernel shared by the KMeans, IVF and
  * PQ operators in [[Similarity]] and by their streaming twins: one
  * encoding, one distance, one centroid, one argmin. Every result is
  * exact integer arithmetic, so each operator built on it hash-matches
  * its DuckDB replay.
  */
object Quantizer {

  /** Embeddings in scaled fixed point, as SQL over the `embedding`
    * column: vfp[i] = floor(v[i] × 10⁶) as BIGINT. The float→double
    * widening and the ×10⁶ product are both exact IEEE operations
    * (24-bit mantissa × 20-bit constant < 53 bits), and floor is
    * unambiguous cross-engine (unlike CAST, which truncates in Spark but
    * rounds in DuckDB), so the image is bit-identical in both engines
    * and every downstream sum is exact, immune to partition order. The
    * same trick as the PageRank fixed point (Dedup.pagerankOn), applied
    * to vectors.
    */
  val vfp: String =
    "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0d) as bigint))"

  /** Fixed-point squared L2 between two BIGINT array expressions, as SQL:
    * a sequential fold in array order. Arrays of unequal length give
    * NULL (zip_with pads with NULL), which is why the native `l2sq_i64`
    * is not a drop-in replacement.
    */
  def l2sq(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"

  /** Truncated-mean centroid per `keys` group of the BIGINT array column
    * `vec`: per-dimension exact sum `s` and count `n`, centroid `s div n`
    * (truncates toward zero, like DuckDB's `//` on the replayed sums).
    * Returns (keys..., carr). A partial+final aggregate over (keys, dim),
    * so the exchange carries at most groups × dim states per task.
    */
  def centroids(df: DataFrame, keys: Seq[String], vec: String): DataFrame = df
    .select(keys.map(col) :+ posexplode(col(vec)).as(Seq("dim", "v")): _*)
    .groupBy((keys :+ "dim").map(col): _*)
    .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    .withColumn("c", expr("s div n"))
    .groupBy(keys.map(col): _*)
    .agg(expr("transform(array_sort(collect_list(struct(dim, c))), p -> p.c)")
      .as("carr"))

  /** Nearest centroid for every row of `points`: the centroid table
    * (by..., id, carr) is packed into one array row per `by` key and
    * broadcast, and each point takes `array_min` over (dist, id) structs
    * — squared-L2 [[l2sq]] to its `vec`, ties to the smaller id. Returns
    * the points' columns plus `id` and `dist`. With `by` empty every
    * point sees every centroid (a cross join against one row); with
    * `by` keys a point sees only its key's centroids (a broadcast hash
    * join). No window, sort or shuffle of the points, so it runs on a
    * stream as well. A point whose key has no centroid is dropped, as
    * an inner join would. Unlike a per-key `row_number` argmin, every
    * input row is kept: callers pass points unique on their key.
    */
  def nearest(points: DataFrame, vec: String, centroids: DataFrame,
      id: String, by: Seq[String] = Nil): DataFrame = {
    val packed = centroids.groupBy(by.map(col): _*)
      .agg(collect_list(struct(col(id), col("carr"))).as("_cents"))
    val paired =
      if (by.isEmpty) points.crossJoin(broadcast(packed))
      else points.join(broadcast(packed), by)
    paired
      .withColumn("_best", expr(
        s"array_min(transform(_cents, c -> struct(${l2sq(vec, "c.carr")} AS dist, c.$id AS $id)))"))
      .filter(col("_best").isNotNull)
      .select(points.columns.map(col) ++
        Seq(col(s"_best.$id").as(id), col("_best.dist").as("dist")): _*)
  }
}
