package graft

import org.apache.spark.sql.functions._

import graft.engine.Blowup

/** Invariants of the scaling-blowup generator: the measurement in
  * SCALING_MEASURED.md is only honest if the N× data multiplies each
  * workload LINEARLY — cross-copy isolation for the self-join families,
  * preserved within-copy structure, fixed dims.
  */
class BlowupSpec extends SparkSpecBase {

  private lazy val dir = Blowup.materialize(spark, sf(), 3)

  test("fact tables triple; dims stay fixed") {
    def n(d: String, t: String): Long = spark.read.parquet(s"$d/$t.parquet").count()
    for (t <- Seq("documents", "embeddings", "orders", "lineitem", "events"))
      assert(n(dir, t) == 3 * n(sf(), t), t)
    for (t <- Seq("region", "nation", "customer"))
      assert(n(dir, t) == n(sf(), t), t)
  }

  test("documents: copy-prefixed texts never collide across copies") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val base = spark.read.parquet(s"${sf()}/documents.parquet")
    // every text distinct across copies ⇒ exact/near-dup graphs stay
    // per-copy (otherwise pair counts grow quadratically in N)
    assert(d.select("text").distinct().count() ==
      3 * base.select("text").distinct().count())
  }

  test("embeddings: rotation preserves within-copy cosines, decorrelates cross-copy") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val stride = 1000000000L
    // cross-copy: same base vector, copies 0 vs 1 → rotated by one → low cosine
    val cross = e.as("a").join(e.as("b"),
        col("b.vec_id") === col("a.vec_id") + stride)
      .select(expr("cosine_f32(a.embedding, b.embedding)").as("c"))
      .agg(max(col("c"))).head().getDouble(0)
    assert(cross < 0.4, s"cross-copy cosine too high: $cross")
    // within-copy: cosine(rot(a), rot(b)) == cosine(a, b) up to fold order
    val basePairs = e.filter(col("vec_id") < 20).as("a")
      .join(e.filter(col("vec_id") < 20).as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        expr("cosine_f32(a.embedding, b.embedding)").as("c0"))
    val copyPairs = e.filter(col("vec_id") >= stride && col("vec_id") < stride + 20).as("a")
      .join(e.filter(col("vec_id") >= stride && col("vec_id") < stride + 20).as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select((col("a.vec_id") - stride).as("va"), (col("b.vec_id") - stride).as("vb"),
        expr("cosine_f32(a.embedding, b.embedding)").as("c1"))
    val drift = basePairs.join(copyPairs, Seq("va", "vb"))
      .select(max(abs(col("c0") - col("c1")))).head().getDouble(0)
    assert(drift < 1e-9, s"within-copy geometry drifted: $drift")
  }

  test("blowup factors past 64 are rejected (rotation would repeat, ADVICE r3)") {
    // copy ≡ 0 (mod 64) gets the identity rotation — copies 64 apart would
    // correlate perfectly and break the linear-workload invariant for the
    // cos≥τ families, so the generator refuses rather than silently lying
    val e = intercept[IllegalArgumentException](Blowup.materialize(spark, sf(), 65))
    assert(e.getMessage.contains("64"), e.getMessage)
    intercept[IllegalArgumentException](Blowup.materialize(spark, sf(), 0))
  }

  test("orders/lineitem: per-copy join fan-out unchanged") {
    def joined(d: String): Long =
      spark.read.parquet(s"$d/orders.parquet").as("o")
        .join(spark.read.parquet(s"$d/lineitem.parquet").as("l"),
          col("o.o_orderkey") === col("l.l_orderkey")).count()
    assert(joined(dir) == 3 * joined(sf()))
  }

  test("events: copy time ranges are disjoint (session structure repeats, not stacks)") {
    // Deliberately no nanosAsLong conf.set here: Tables.load must handle the
    // nanos vintage itself, and pre-setting it would mask a regression in
    // loadEvents' own conf handling (ADVICE r8). unix_micros gives a
    // comparable long for the range check.
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val ev = graft.engine.Tables.load(spark, dir, "events")
      .withColumn("ts", expr("unix_micros(ts)"))
    val stride = 1000000000L
    val ranges = ev.withColumn("copy", (col("event_id") / stride).cast("int"))
      .groupBy("copy").agg(min("ts").as("lo"), max("ts").as("hi"))
      .orderBy("copy").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(ranges.length == 3)
    ranges.sliding(2).foreach { case Array((_, _, hi0), (_, lo1, _)) =>
      assert(hi0 < lo1, s"overlapping copy time ranges: $hi0 >= $lo1")
    }
  }
}
