package graft

import org.apache.spark.sql.functions._

/** Native codegen expressions (dot_f32 / cosine_f32) must be
  * bit-identical to the sequential higher-order-function double fold
  * they replaced, and reject wrong input types at analysis time.
  */
class VectorExprSpec extends SparkSpecBase {

  test("cosine_f32 bit-equals the zip_with/aggregate fold on real embeddings") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings").limit(50)
    val pairs = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(e.select(col("vec_id").as("cid"), col("embedding").as("ce")))
      .filter(col("qid") < col("cid"))
    val fold =
      "aggregate(zip_with(qe, ce, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)" +
        " / (sqrt(aggregate(qe, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))" +
        " * sqrt(aggregate(ce, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double))))"
    val diff = pairs
      .select(expr("cosine_f32(qe, ce)").as("fast"), expr(fold).as("slow"),
        expr("dot_f32(qe, ce)").as("dfast"),
        expr("aggregate(zip_with(qe, ce, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)").as("dslow"))
      .filter(col("fast") =!= col("slow") || col("dfast") =!= col("dslow"))
    assert(diff.count() == 0)
  }

  test("mix64 equals SketchHash.mix(_, 0) through codegen") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 42L, -1L, Long.MaxValue, Long.MinValue)
    val got = ids.toDF("x").select(expr("mix64(x)")).collect().map(_.getLong(0))
    val want = ids.map(graft.functions.SketchHash.mix(_, 0))
    assert(got.toSeq == want, s"mix64 mismatch: $got vs $want")
  }

  test("null inputs yield null") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0f)), None: Option[Array[Float]])).toDF("a", "b")
    val r = df.select(expr("cosine_f32(a, b)")).collect()
    assert(r.head.isNullAt(0))
  }

  test("wrong input type fails analysis") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("a", "b")
    val e = intercept[Exception](df.select(expr("cosine_f32(a, b)")).collect())
    assert(e.getMessage.contains("array<float>"))
  }

  test("plane-offset sign_lsh slices agree with the single 64-bit signature") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    // band b of the 64-bit signature == the 4-bit offset call at plane 4b,
    // for every row and band — the wide-banding form is bit-compatible
    val checks = (0 until 16).map(b =>
      expr(s"sign_lsh(embedding, ${b * 4}, 4) <=> (shiftright(sign_lsh(embedding, 64), ${b * 4}) & 15L)"))
    val allOk = checks.reduce(_ && _)
    assert(e.filter(!allOk).count() == 0)
    // offsets beyond 64 planes produce valid (differing) signatures
    val wide = e.selectExpr("sign_lsh(embedding, 64, 8) AS hi", "sign_lsh(embedding, 0, 8) AS lo")
      .filter(col("hi") =!= col("lo"))
    assert(wide.count() > 0)
  }

  test("sign_lsh / minhash_arr reject null array elements instead of reading zeros") {
    import spark.implicits._
    val df = Seq(Seq(Some(1.0f), None, Some(2.0f))).toDF("v")
    val e = intercept[Exception](df.select(expr("sign_lsh(v, 8)")).collect())
    assert(e.getMessage.contains("null array element"))
    val dfl = Seq(Seq(Some(1L), None)).toDF("h")
    val e2 = intercept[Exception](dfl.select(expr("minhash_arr(h)")).collect())
    assert(e2.getMessage.contains("null array element"))
    // null-free nullable-typed arrays still work
    val ok = Seq(Seq(Some(1.0f), Some(2.0f))).toDF("v")
      .select(expr("sign_lsh(v, 8)")).collect()
    assert(ok.length == 1)
  }

  test("l2sq_i64 bit-equals the zip_with/aggregate fold on real fixed-point pairs") {
    val e = graft.engine.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0d) as bigint)) AS vfp")
    val pairs = e.as("a").crossJoin(e.limit(5).as("b"))
      .selectExpr("a.vfp AS x", "b.vfp AS y")
    val bad = pairs.filter(expr("l2sq_i64(x, y) != " +
      "aggregate(zip_with(x, y, (p, q) -> (p - q) * (p - q)), 0L, (acc, z) -> acc + z)"))
    assert(bad.count() == 0)
  }

  test("Quantizer.nearest equals a row_number argmin (ties to the smaller id) and plans no window or sort") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.expressions.Window
    import graft.ext.Quantizer
    import spark.implicits._
    object Plans extends AdaptiveSparkPlanHelper
    def windowsAndSorts(df: DataFrame): Seq[String] =
      Plans.collect(df.queryExecution.executedPlan) {
        case p @ (_: WindowExec | _: SortExec) => p.nodeName
      }
    // the reference: every (point, centroid) pair scored, then one row per
    // point key by row_number over (dist, id)
    def windowArgmin(points: DataFrame, vec: String, cents: DataFrame,
        id: String, keys: Seq[String], by: Seq[String]): DataFrame = {
      val paired = if (by.isEmpty) points.crossJoin(cents) else points.join(cents, by)
      paired
        .withColumn("dist", expr(
          s"aggregate(zip_with($vec, carr, (p, q) -> (p - q) * (p - q)), 0L, (acc, z) -> acc + z)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(keys.map(col): _*).orderBy(col("dist"), col(id))))
        .filter(col("rn") === 1)
    }
    def check(points: DataFrame, vec: String, cents: DataFrame, id: String,
        keys: Seq[String], by: Seq[String] = Nil): Set[Row] = {
      val out = keys ++ Seq(id, "dist")
      val ref = windowArgmin(points, vec, cents, id, keys, by)
      val got = Quantizer.nearest(points, vec, cents, id, by)
      val (refRows, gotRows) = (ref.select(out.map(col): _*).collect(),
        got.select(out.map(col): _*).collect())
      assert(gotRows.length == refRows.length)
      assert(gotRows.toSet == refRows.toSet)
      assert(windowsAndSorts(ref).contains("Window"))
      assert(windowsAndSorts(got).isEmpty, got.queryExecution.executedPlan.toString)
      gotRows.toSet
    }
    val vfp = graft.engine.Tables.load(spark, sf(), "embeddings").selectExpr("vec_id", "label",
      "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0d) as bigint)) AS vfp")
    // global: label centroids, every vector against every centroid
    val labelCents = Quantizer.centroids(vfp, Seq("label"), "vfp")
    assert(check(vfp.select("vec_id", "vfp"), "vfp", labelCents, "label",
      keys = Seq("vec_id")).size == vfp.count())
    // keyed: 16 subspaces of 4 dims, the first 6 vectors' slices as each
    // subspace's codebook
    val subs = vfp.select(col("vec_id"), posexplode(expr(
      "transform(sequence(0, 15), s -> slice(vfp, s * 4 + 1, 4))")).as(Seq("subspace", "sv")))
    val cb = subs.filter(col("vec_id") < 6)
      .select(col("subspace"), col("vec_id").as("cl"), col("sv").as("carr"))
    check(subs, "sv", cb, "cl", keys = Seq("vec_id", "subspace"), by = Seq("subspace"))
    // a tie: centroids 7 and 3 both sit at squared distance 1
    val tie = check(Seq((1L, Seq(0L, 0L))).toDF("vec_id", "v"), "v",
      Seq((7L, Seq(1L, 0L)), (3L, Seq(0L, -1L)), (5L, Seq(3L, 3L))).toDF("cid", "carr"),
      "cid", keys = Seq("vec_id"))
    assert(tie == Set(Row(1L, 3L, 1L)))
  }

  test("phash64 equals the block-mean/gradient reference on crafted payloads") {
    import spark.implicits._
    def ref(payload: Array[Byte]): Long = {
      val len = payload.length
      val sums = new Array[Long](72); val cnts = new Array[Long](72)
      payload.zipWithIndex.foreach { case (b, i) =>
        val blk = ((i.toLong * 72) / len).toInt
        sums(blk) += b & 0xff; cnts(blk) += 1
      }
      val m = (0 until 72).map(b => if (cnts(b) == 0) 0L else sums(b) / cnts(b))
      (0 until 64).foldLeft(0L) { (h, k) =>
        if (m((k / 8) * 9 + k % 8) > m((k / 8) * 9 + k % 8 + 1)) h | (1L << k) else h
      }
    }
    // lengths straddling the 72-block grid: exact multiple, ragged, huge
    val payloads = Seq(72, 100, 144, 977).map(n =>
      Array.tabulate(n)(i => ((i * 31 + 7) % 253).toByte))
    val got = payloads.map(Tuple1(_)).toDF("p")
      .select(expr("phash64(p)")).collect().map(_.getLong(0))
    assert(got.sameElements(payloads.map(ref)))
    // bit 63 (a set top bit must produce a negative two's-complement hash
    // somewhere across the fixture) keeps the sign path honest
    assert(got.exists(_ < 0L) || payloads.map(ref).forall(_ >= 0L))
  }

  test("pcm16_energy: LE signed samples, partial window, odd byte, empty") {
    import spark.implicits._
    def run(bytes: Array[Byte], win: Int): Seq[Long] =
      Seq(Tuple1(bytes)).toDF("p")
        .select(expr(s"pcm16_energy(p, $win)")).head.getSeq[Long](0)
    // two samples: 0x0102 -> 258 stored LE (02 01); 0xFF80 hi byte 0x80
    // -> sample 0x80FF = -32513 (signed): energy = 258² + (-32513)²
    val s1 = Array[Byte](0x02, 0x01, 0xFF.toByte, 0x80.toByte)
    assert(run(s1, 2) == Seq(258L * 258 + 32513L * 32513))
    // window split: win=1 gives one window per sample, in order
    assert(run(s1, 1) == Seq(258L * 258, 32513L * 32513))
    // partial trailing window keeps its partial sum; odd trailing byte
    // is not a sample
    val s2 = Array[Byte](0x02, 0x01, 0x02, 0x01, 0x02, 0x01, 0x7F)
    assert(run(s2, 2) == Seq(2 * 258L * 258, 258L * 258))
    // empty payload -> no windows
    assert(run(Array.empty[Byte], 4).isEmpty)
  }
}
