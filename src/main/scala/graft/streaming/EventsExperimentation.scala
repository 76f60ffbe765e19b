package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Experimentation & causal-readout queries over `events` — the A/B
  * tier split out of [[Events]] by domain (VERDICT r14 item 7, zero
  * behavior change): two-sample tests (KS, Mann-Whitney U), variance
  * reduction (CUPED), difference-in-differences, group-sequential
  * monitoring, A/A calibration, Neyman allocation, Kaplan-Meier
  * survival, Shapley attribution, Poisson dispersion, and the Poisson
  * bootstrap CI. Mixed into [[Events]], whose `queries`/`oracles` maps
  * stay the single registry.
  */
private[streaming] trait EventsExperimentation { this: Events.type =>

  // --------------------------------------------- A/A test calibration
  /** A/A test calibration — split users into two arms by a
    * deterministic hash (mix64 parity, the same replayable family as
    * every sampler here), compare their heavy-purchaser rates
    * (> the ~13-purchase corpus median — the mid-prevalence outcome
    * here; plain did-purchase saturates at 100% on this fixture) with the
    * two-proportion z statistic. Arms see the SAME product, so a
    * |z| repeatedly far from 0 means the assignment, logging, or stats
    * pipeline is broken — the calibration run every experimentation
    * platform executes before any real A/B is trusted. Rates are
    * integer ppm; z uses only +,−,×,÷,√ (no logs), identical on both
    * engines. One per-user aggregate + a 2-row arm rollup.
    */
  def aaTest(spark: SparkSession, dir: String): DataFrame = {
    val users = events(spark, dir)
      .groupBy(col("user_id"))
      .agg((sum((col("event_type") === "purchase").cast("long")) >= 14)
        .cast("long").as("converted"))
      .withColumn("arm", expr("pmod(mix64(user_id), 2)").cast("int"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("k"))
    val wide = arms.filter(col("arm") === 0)
      .select(col("n").as("n0"), col("k").as("k0"))
      .crossJoin(broadcast(arms.filter(col("arm") === 1)
        .select(col("n").as("n1"), col("k").as("k1"))))
    wide.select(col("n0"), col("k0"), col("n1"), col("k1"),
        expr("k0 * 1000000 div n0").as("rate0_ppm"),
        expr("k1 * 1000000 div n1").as("rate1_ppm"))
      .withColumn("p0", col("k0").cast("double") / col("n0").cast("double"))
      .withColumn("p1", col("k1").cast("double") / col("n1").cast("double"))
      .withColumn("pp", (col("k0") + col("k1")).cast("double") /
        (col("n0") + col("n1")).cast("double"))
      .select(col("n0"), col("k0"), col("rate0_ppm"),
        col("n1"), col("k1"), col("rate1_ppm"),
        // saturated outcome (everyone or no one converts) has zero
        // pooled variance: z is 0 by definition, not a division — the
        // 10× blowup multiplies per-user histories, pushing every user
        // past the 1×-calibrated threshold, and ANSI mode turns the
        // naive √0 denominator into DIVIDE_BY_ZERO (found at blowup 10)
        when(col("k0") + col("k1") === 0L ||
            col("k0") + col("k1") === col("n0") + col("n1"), lit(0.0))
          .otherwise(round((col("p0") - col("p1")) /
            sqrt(col("pp") * (lit(1.0) - col("pp")) *
              (lit(1.0) / col("n0").cast("double") +
                lit(1.0) / col("n1").cast("double"))), 6)).as("z"))
  }

  val aaTestSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
      |      THEN 1 ELSE 0 END AS converted
      |  FROM events GROUP BY 1),
      |arm AS (
      |  SELECT converted,
      |    (CAST(((((xor(z2, z2 >> 31)) % 2) + 2) % 2) AS INT)) AS arm
      |  FROM (
      |    SELECT converted,
      |      (CAST(user_id AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS z0,
      |      xor(z0, z0 >> 30) AS x1,
      |      (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065) % 18446744073709551616 AS z1,
      |      xor(z1, z1 >> 27) AS x2,
      |      (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955) % 18446744073709551616 AS z2
      |    FROM u)),
      |a AS (SELECT arm, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS k
      |      FROM arm GROUP BY 1),
      |w AS (
      |  SELECT a0.n AS n0, a0.k AS k0, a1.n AS n1, a1.k AS k1
      |  FROM a a0, a a1 WHERE a0.arm = 0 AND a1.arm = 1)
      |SELECT n0, k0, k0 * 1000000 // n0 AS rate0_ppm,
      |  n1, k1, k1 * 1000000 // n1 AS rate1_ppm,
      |  CASE WHEN k0 + k1 = 0 OR k0 + k1 = n0 + n1 THEN 0.0
      |  ELSE round((CAST(k0 AS DOUBLE) / n0 - CAST(k1 AS DOUBLE) / n1)
      |    / sqrt((CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 / n0 + 1.0 / n1)), 6) END AS z
      |FROM w""".stripMargin


  // --------------------------------------------- Neyman allocation
  /** Neyman-allocated stratified sample — the statistically optimal way
    * to spend a fixed sampling budget across strata: each event_type
    * gets sample size ∝ N_h·σ_h (big AND volatile strata earn more
    * rows than proportional allocation gives them — the estimator-
    * variance-minimizing split), with the fractional targets resolved
    * to EXACTLY the 100-row budget by largest-remainder apportionment
    * (ties by type name), then filled by the deterministic hash-rank
    * draw ([[graft.queries.Core]] q23's replay-safe sampler). Two
    * passes: one moments aggregate (5 partial states), one scan with
    * the per-stratum targets broadcast. Output: the drawn rows with
    * their stratum and rank — reproducible on any cluster.
    */
  def neymanSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bigsum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(38, 6))).cast("double")
    val e = events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = e.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"), bigsum(col("value")).as("s1"),
        bigsum(col("value") * col("value")).as("s2"))
      .withColumn("w", col("n") * sqrt((col("s2") - col("s1") * col("s1") / col("n")) / col("n")))
    val tot = stats.agg(sum(col("w")).as("tw"))
    val alloc = stats.crossJoin(broadcast(tot))
      .withColumn("exact", col("w") * 100.0 / col("tw"))
      .withColumn("base", floor(col("exact")).cast("long"))
      .withColumn("rem", col("exact") - floor(col("exact")))
    val short = alloc.agg((lit(100L) - sum(col("base"))).as("k"))
    // global window over the |event types|-row allocation grid (bounded)
    val wRem = Window.orderBy(col("rem").desc, col("event_type"))
    val targets = alloc.crossJoin(broadcast(short))
      .withColumn("extra",
        (row_number().over(wRem) <= col("k")).cast("long"))
      .select(col("event_type"), (col("base") + col("extra")).as("n_target"))
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(md5(col("event_id").cast("string").cast("binary")), col("event_id"))
    e.join(broadcast(targets), "event_type")
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .filter(col("rk") <= col("n_target"))
      .select(col("event_type"), col("n_target"), col("rk"), col("event_id"))
      .orderBy(col("event_type"), col("rk"))
  }

  val neymanSampleSql: String =
    """WITH st AS (
      |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
      |  FROM events GROUP BY 1),
      |wt AS (
      |  SELECT event_type, n * sqrt((s2 - s1 * s1 / n) / n) AS w FROM st),
      |t AS (SELECT SUM(w) AS tw FROM wt),
      |alloc AS (
      |  SELECT event_type, w * 100.0 / tw AS exact,
      |    CAST(floor(w * 100.0 / tw) AS BIGINT) AS base,
      |    w * 100.0 / tw - floor(w * 100.0 / tw) AS rem
      |  FROM wt, t),
      |k AS (SELECT 100 - SUM(base) AS k FROM alloc),
      |tgt AS (
      |  SELECT event_type,
      |    base + CASE WHEN row_number() OVER (ORDER BY rem DESC, event_type)
      |      <= (SELECT k FROM k) THEN 1 ELSE 0 END AS n_target
      |  FROM alloc),
      |rk AS (
      |  SELECT e.event_type, e.event_id,
      |    row_number() OVER (PARTITION BY e.event_type
      |      ORDER BY md5(CAST(e.event_id AS VARCHAR)), e.event_id) AS rk
      |  FROM events e)
      |SELECT rk.event_type, CAST(tgt.n_target AS BIGINT) AS n_target,
      |  CAST(rk.rk AS BIGINT) AS rk, rk.event_id
      |FROM rk JOIN tgt USING (event_type)
      |WHERE rk.rk <= tgt.n_target
      |ORDER BY rk.event_type, rk.rk""".stripMargin


  // ---------------------------------- two-sample Kolmogorov–Smirnov
  /** Exact two-sample KS test of the `value` distribution, first half
    * of the calendar vs second — the nonparametric drift test the
    * chi-square monitor ([[driftMonitor]]) can't replace (χ² needs
    * binning and misses shape changes that preserve bin masses; KS is
    * the sup-gap of the EMPIRICAL CDFs). All integer: values quantize
    * to cents (the q106 round convention), per-cent counts cumulate,
    * and the statistic is
    *
    *   D = max_v |K₁(v)·n₂ − K₂(v)·n₁|  /  (n₁·n₂)
    *
    * reported in ppm with the α=0.05 decision exact in integers:
    * D > 1.358·√((n₁+n₂)/(n₁n₂))  ⟺  D_num²·10⁶ > 1843841·(n₁+n₂)·n₁n₂
    * (both sides DECIMAL(38,0) — no sqrt, no float, no boundary
    * flake). Scale shape: one per-cent-value aggregate (partial+final),
    * then the cumulative runs through [[graft.engine.PrefixSum]]'s
    * recursive chunked carry — NEVER an unpartitioned window over the
    * value domain (VERDICT r12 item 4's discipline); the argmax is one
    * global struct-max aggregate.
    */
  def ksTest(spark: SparkSession, dir: String): DataFrame =
    ksTestOn(events(spark, dir))

  /** Shared by [[ksTestOn]]/[[mwuTestOn]]: per-cent-value counts of the
    * two calendar halves (q, c₁, c₂) — ONE definition of the
    * quantization and the frozen-midpoint split, so the two tests (and
    * [[graft.streaming.TwoSampleIngest]]'s twin) can never silently
    * test different samples.
    */
  private def twoSampleCounts(ev: DataFrame): DataFrame = {
    val base = ev.select(
      expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").as("d"),
      expr("cast(round(value * 100.0d) as bigint)").as("q"))
    val mid = base.agg(expr("(min(d) + max(d)) div 2").as("mid"))
    base.crossJoin(broadcast(mid))
      .groupBy(col("q"))
      .agg(sum(when(col("d") <= col("mid"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("d") > col("mid"), 1L).otherwise(0L)).as("c2"))
  }

  def ksTestOn(ev: DataFrame): DataFrame = {
    val vc = twoSampleCounts(ev)
    val cum = graft.engine.PrefixSum.exclusiveSum(
      graft.engine.PrefixSum.exclusiveSum(vc, "q", "c1", "p1"),
      "q", "c2", "p2")
    val tot = vc.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val gaps = cum.crossJoin(broadcast(tot))
      .select(col("q"),
        expr("abs((coalesce(p1, 0L) + c1) * n2 - (coalesce(p2, 0L) + c2) * n1)")
          .as("gap"))
    gaps
      .agg(max(struct(col("gap"), (col("q") * -1L).as("nq"))).as("m"))
      .select(col("m.gap").as("d_num"), (col("m.nq") * -1L).as("v_cents"))
      .crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"), col("v_cents"),
        expr("cast((cast(d_num as decimal(38,0)) * 1000000) div (n1 * n2) as bigint)")
          .as("d_ppm"),
        expr("cast(CASE WHEN cast(d_num as decimal(38,0)) * d_num * 1000000 " +
          "> 1843841 * cast(n1 + n2 as decimal(38,0)) * (n1 * n2) " +
          "THEN 1 ELSE 0 END as bigint)").as("reject_05"))
  }

  val ksTestSql: String =
    """WITH base AS (
      |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
      |    CAST(round(value * 100) AS BIGINT) AS q
      |  FROM events),
      |m AS (SELECT (MIN(d) + MAX(d)) // 2 AS mid FROM base),
      |vc AS (
      |  SELECT q,
      |    SUM(CASE WHEN d <= m.mid THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN d > m.mid THEN 1 ELSE 0 END) AS c2
      |  FROM base CROSS JOIN m GROUP BY q),
      |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
      |    CAST(SUM(c2) AS BIGINT) AS n2 FROM vc),
      |cum AS (
      |  SELECT q, SUM(c1) OVER (ORDER BY q) AS k1,
      |    SUM(c2) OVER (ORDER BY q) AS k2
      |  FROM vc),
      |gaps AS (
      |  SELECT q, CAST(abs(k1 * t.n2 - k2 * t.n1) AS BIGINT) AS gap
      |  FROM cum CROSS JOIN tot t),
      |mx AS (SELECT gap AS d_num, q AS v_cents FROM gaps
      |  ORDER BY gap DESC, q ASC LIMIT 1)
      |SELECT t.n1, t.n2, m.v_cents,
      |  CAST(CAST(m.d_num AS HUGEINT) * 1000000 // (t.n1 * t.n2) AS BIGINT)
      |    AS d_ppm,
      |  CAST(CASE WHEN CAST(m.d_num AS HUGEINT) * m.d_num * 1000000
      |    > 1843841 * CAST(t.n1 + t.n2 AS HUGEINT) * (t.n1 * t.n2)
      |    THEN 1 ELSE 0 END AS BIGINT) AS reject_05
      |FROM mx m CROSS JOIN tot t""".stripMargin


  // ------------------------------------- Mann–Whitney U (rank-sum)
  /** Exact two-sample Mann–Whitney U on the same halves as [[ksTestOn]]
    * — the LOCATION-shift companion (KS is sensitive to any shape
    * change; MWU asks specifically "does one half stochastically
    * dominate?", and is the nonparametric replacement for the t-test
    * the [[aaTest]] z assumes normality for). Midranks handled exactly
    * by staying in DOUBLED units: with per-cent-value counts c₁, c₂
    * (c = c₁+c₂, K = count strictly below),
    *
    *   2·R₁ = Σ_v c₁(v)·(2·K(v) + c(v) + 1)        (rank sum, ×2)
    *   2·U₁ = 2·R₁ − n₁(n₁+1)
    *
    * all BIGINT. The α=0.05 two-sided normal-approximation decision is
    * exact in integers (no sqrt): z² > 1.96² ⟺ 30000·(2U₁ − n₁n₂)²
    * > 38416·n₁n₂·(N+1), both sides DECIMAL(38,0). No tie correction
    * in σ (omitting it INFLATES σ — conservative: fewer rejections);
    * the rank sums themselves are tie-exact via midranks. Effect size:
    * rank-biserial r = (2U₁ − n₁n₂)/n₁n₂ in ppm. Scale shape: the KS
    * pipeline exactly — one per-cent aggregate, one chunked-carry
    * prefix, one global fold.
    */
  def mwuTest(spark: SparkSession, dir: String): DataFrame =
    mwuTestOn(events(spark, dir))

  def mwuTestOn(ev: DataFrame): DataFrame = {
    val vc = twoSampleCounts(ev)
      .withColumn("c", col("c1") + col("c2"))
    val cum = graft.engine.PrefixSum.exclusiveSum(vc, "q", "c", "kb")
    cum
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(expr("c1 * (2L * coalesce(kb, 0L) + c + 1L)")).as("two_r1"))
      .select(col("n1"), col("n2"),
        expr("two_r1 - n1 * (n1 + 1L)").as("u1_x2"),
        expr("2L * n1 * n2 - (two_r1 - n1 * (n1 + 1L))").as("u2_x2"),
        // ADVICE r13: (2U₁ − n₁n₂)·10⁶ overflows BIGINT once n₁n₂ >
        // ~9.2e12 (~6M events — reachable at the 64× blowup); widen
        // through DECIMAL(38,0) like the adjacent reject_05 / KS d_ppm
        expr("cast((cast(two_r1 - n1 * (n1 + 1L) - n1 * n2 as decimal(38,0)) " +
          "* 1000000) div (n1 * n2) as bigint)")
          .as("rank_biserial_ppm"),
        expr("cast(CASE WHEN 30000 * cast(two_r1 - n1 * (n1 + 1L) - n1 * n2 " +
          "as decimal(38,0)) * (two_r1 - n1 * (n1 + 1L) - n1 * n2) " +
          "> 38416 * cast(n1 * n2 as decimal(38,0)) * (n1 + n2 + 1L) " +
          "THEN 1 ELSE 0 END as bigint)").as("reject_05"))
  }

  val mwuTestSql: String =
    """WITH base AS (
      |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
      |    CAST(round(value * 100) AS BIGINT) AS q
      |  FROM events),
      |m AS (SELECT (MIN(d) + MAX(d)) // 2 AS mid FROM base),
      |vc AS (
      |  SELECT q,
      |    SUM(CASE WHEN d <= m.mid THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN d > m.mid THEN 1 ELSE 0 END) AS c2,
      |    COUNT(*) AS c
      |  FROM base CROSS JOIN m GROUP BY q),
      |cum AS (
      |  SELECT q, c1, c2, c,
      |    COALESCE(SUM(c) OVER (ORDER BY q
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS kb
      |  FROM vc),
      |agg AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
      |    CAST(SUM(c1 * (2 * kb + c + 1)) AS BIGINT) AS two_r1
      |  FROM cum)
      |SELECT n1, n2,
      |  two_r1 - n1 * (n1 + 1) AS u1_x2,
      |  2 * n1 * n2 - (two_r1 - n1 * (n1 + 1)) AS u2_x2,
      |  CAST(CAST(two_r1 - n1 * (n1 + 1) - n1 * n2 AS HUGEINT) * 1000000
      |    // (n1 * n2) AS BIGINT) AS rank_biserial_ppm,
      |  CAST(CASE WHEN 30000 * CAST(two_r1 - n1 * (n1 + 1) - n1 * n2 AS HUGEINT)
      |      * (two_r1 - n1 * (n1 + 1) - n1 * n2)
      |    > 38416 * CAST(n1 * n2 AS HUGEINT) * (n1 + n2 + 1)
      |    THEN 1 ELSE 0 END AS BIGINT) AS reject_05
      |FROM agg""".stripMargin


  // ------------------------------------------------ CUPED A/B readout
  /** CUPED variance-reduced experiment readout (Deng et al., WSDM'13 —
    * the adjustment every large experimentation platform applies before
    * computing lift): each user's post-period metric is debiased by
    * their own PRE-period activity, y′ = y − θ·(x − x̄), with
    * θ = cov(x,y)/var(x) pooled across arms; the arm means shift by
    * provably-zero expectation while the variance drops by the squared
    * pre/post correlation. Reports both raw and adjusted mean/variance
    * per arm and the realized variance-reduction (basis points).
    *
    * Pre/post split: first 15 days of the observation window vs the
    * rest; arms by `pmod(mix64(user_id), 2)` — the same deterministic
    * splitmix hash randomization as [[aaTest]].
    *
    * Cross-engine exactness: `value` lives on the 0.01 grid, so per-user
    * pre/post totals are summed as INTEGER centi-units — every moment
    * (Σx, Σy, Σx², Σy², Σxy per arm) is an exact BIGINT regardless of
    * partitioning; θ and the variances are then scalar double math on
    * those integers with identical expression trees both engines, and
    * the bp reduction floors before casting. Scale: one corpus scan to
    * per-user rows, one grouped aggregate to the 2-row arm table; the
    * 1-row window-bound and pooled-total frames broadcast.
    */
  def cuped(spark: SparkSession, dir: String): DataFrame =
    cupedOn(events(spark, dir))

  def cupedOn(ev: DataFrame): DataFrame = {
    val t0 = ev.agg(min(col("ts")).as("t0"))
    val cutUs = 15L * 86400L * 1000000L
    val pu = ev.crossJoin(broadcast(t0))
      .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("pre",
        expr("unix_micros(ts) - unix_micros(t0)") < cutUs)
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), col("vc")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("vc")).otherwise(0L)).as("y"))
      .withColumn("arm", expr("pmod(mix64(user_id), 2)").cast("int"))
    // staged: the pooled-theta aggregate and the final projection both
    // read this 2-row frame — un-staged, the per-user events aggregate
    // ran twice (PlanAudit r16 ×2; guide §1.2)
    val arms = graft.engine.Materialize.stage(pu.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy")))
    val g = arms.agg(sum(col("n")).as("gn"), sum(col("sx")).as("gsx"),
      sum(col("sy")).as("gsy"), sum(col("sxx")).as("gsxx"),
      sum(col("sxy")).as("gsxy"))
    arms.crossJoin(broadcast(g))
      .withColumn("theta",
        (col("gn").cast("double") * col("gsxy").cast("double") -
          col("gsx").cast("double") * col("gsy").cast("double")) /
        (col("gn").cast("double") * col("gsxx").cast("double") -
          col("gsx").cast("double") * col("gsx").cast("double")))
      .withColumn("vpost",
        (col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double") / col("n").cast("double")) /
          (col("n").cast("double") - lit(1.0)))
      .withColumn("vpre",
        (col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / col("n").cast("double")) /
          (col("n").cast("double") - lit(1.0)))
      .withColumn("covxy",
        (col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") / col("n").cast("double")) /
          (col("n").cast("double") - lit(1.0)))
      .withColumn("vadj",
        col("vpost") - lit(2.0) * col("theta") * col("covxy") +
          col("theta") * col("theta") * col("vpre"))
      .select(col("arm"), col("n"),
        round(col("theta"), 6).as("theta"),
        round(col("sy").cast("double") / col("n").cast("double") / lit(100.0), 6)
          .as("mean_post"),
        round((col("sy").cast("double") / col("n").cast("double") -
          col("theta") * (col("sx").cast("double") / col("n").cast("double") -
            col("gsx").cast("double") / col("gn").cast("double"))) / lit(100.0), 6)
          .as("mean_adj"),
        round(col("vpost") / lit(10000.0), 6).as("var_post"),
        round(col("vadj") / lit(10000.0), 6).as("var_adj"),
        floor((lit(1.0) - col("vadj") / col("vpost")) * lit(10000.0))
          .cast("long").as("var_red_bp"))
      .orderBy(col("arm"))
  }

  val cupedSql: String =
    """WITH m AS (SELECT MIN(ts) AS t0 FROM events),
      |pu0 AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN epoch_us(ts) - epoch_us(t0) < 1296000000000
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN epoch_us(ts) - epoch_us(t0) >= 1296000000000
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      |  FROM events, m GROUP BY 1),
      |pu AS (
      |  SELECT x, y,
      |    (CAST(((((xor(z2, z2 >> 31)) % 2) + 2) % 2) AS INT)) AS arm
      |  FROM (
      |    SELECT x, y,
      |      (CAST(user_id AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS z0,
      |      xor(z0, z0 >> 30) AS x1,
      |      (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065) % 18446744073709551616 AS z1,
      |      xor(z1, z1 >> 27) AS x2,
      |      (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955) % 18446744073709551616 AS z2
      |    FROM pu0)),
      |a AS (
      |  SELECT arm, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy, CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM pu GROUP BY 1),
      |g AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS gn, CAST(SUM(sx) AS BIGINT) AS gsx,
      |    CAST(SUM(sy) AS BIGINT) AS gsy, CAST(SUM(sxx) AS BIGINT) AS gsxx,
      |    CAST(SUM(sxy) AS BIGINT) AS gsxy
      |  FROM a),
      |s AS (
      |  SELECT arm, n, sx, sy, sxx, syy, sxy, gn, gsx,
      |    (CAST(gn AS DOUBLE) * CAST(gsxy AS DOUBLE)
      |      - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE))
      |    / (CAST(gn AS DOUBLE) * CAST(gsxx AS DOUBLE)
      |      - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE)) AS theta,
      |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
      |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vpost,
      |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vpre,
      |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
      |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS covxy
      |  FROM a, g),
      |v AS (
      |  SELECT *, vpost - 2.0 * theta * covxy + theta * theta * vpre AS vadj
      |  FROM s)
      |SELECT arm, n, round(theta, 6) AS theta,
      |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_post,
      |  round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
      |    - theta * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
      |      - CAST(gsx AS DOUBLE) / CAST(gn AS DOUBLE))) / 100.0, 6) AS mean_adj,
      |  round(vpost / 10000.0, 6) AS var_post,
      |  round(vadj / 10000.0, 6) AS var_adj,
      |  CAST(floor((1.0 - vadj / vpost) * 10000.0) AS BIGINT) AS var_red_bp
      |FROM v ORDER BY arm""".stripMargin


  // ------------------------------------------------- Difference-in-differences
  /** Difference-in-differences readout — the observational sibling of
    * [[cuped]]/[[aaTest]]: when the "treated" group is SELF-SELECTED
    * (here: heavy buyers, ≥ 7 pre-period purchases) a raw post-period
    * comparison is confounded by the level difference, so the estimand
    * is the difference of pre→post CHANGES, identified under parallel
    * trends. One summary row: group sizes, each group's mean per-user
    * value change, the DiD estimate, its two-sample standard error
    * (from per-user delta variances), and a milli-scaled t statistic.
    *
    * Cross-engine exactness: per-user pre/post totals are exact
    * centi-unit BIGINTs (the [[cuped]] snap), so every group moment
    * (n, Σd, Σd²) is exact; the estimate/SE/t are scalar double math
    * with identical expression trees, rounded at 6dp, and the t floors
    * before casting (floor, not trunc — the engines' cast rounding
    * differs but floor agrees). Scale: one corpus scan folds to one
    * row per user, then a single global aggregate — the summary never
    * grows with the data.
    */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame =
    diffInDiffOn(events(spark, dir))

  def diffInDiffOn(ev: DataFrame): DataFrame = {
    val t0 = ev.agg(min(col("ts")).as("t0"))
    val cutUs = 15L * 86400L * 1000000L
    val pu = ev.crossJoin(broadcast(t0))
      .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("pre",
        expr("unix_micros(ts) - unix_micros(t0)") < cutUs)
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), col("vc")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("vc")).otherwise(0L)).as("y"),
        sum(when(col("pre") && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("np"))
      .withColumn("g", (col("np") >= 7).cast("long"))
      .withColumn("d", col("y") - col("x"))
    pu.agg(
        sum(lit(1L) - col("g")).as("n_ctl"), sum(col("g")).as("n_exp"),
        sum(col("d") * (lit(1L) - col("g"))).as("sd0"),
        sum(col("d") * col("g")).as("sd1"),
        sum(col("d") * col("d") * (lit(1L) - col("g"))).as("sdd0"),
        sum(col("d") * col("d") * col("g")).as("sdd1"))
      .withColumn("md0", col("sd0").cast("double") / col("n_ctl").cast("double"))
      .withColumn("md1", col("sd1").cast("double") / col("n_exp").cast("double"))
      .withColumn("v0",
        (col("sdd0").cast("double") - col("sd0").cast("double") *
          col("sd0").cast("double") / col("n_ctl").cast("double")) /
          (col("n_ctl").cast("double") - lit(1.0)))
      .withColumn("v1",
        (col("sdd1").cast("double") - col("sd1").cast("double") *
          col("sd1").cast("double") / col("n_exp").cast("double")) /
          (col("n_exp").cast("double") - lit(1.0)))
      .withColumn("did_raw", col("md1") - col("md0"))
      .withColumn("se_raw", sqrt(col("v0") / col("n_ctl").cast("double") +
        col("v1") / col("n_exp").cast("double")))
      .select(col("n_ctl"), col("n_exp"),
        round(col("md0") / lit(100.0), 6).as("mean_delta_ctl"),
        round(col("md1") / lit(100.0), 6).as("mean_delta_exp"),
        round(col("did_raw") / lit(100.0), 6).as("did"),
        round(col("se_raw") / lit(100.0), 6).as("se"),
        floor(col("did_raw") / col("se_raw") * lit(1000.0))
          .cast("long").as("t_milli"))
      .orderBy(col("n_ctl"))
  }

  val diffInDiffSql: String =
    """WITH m AS (SELECT MIN(ts) AS t0 FROM events),
      |pu AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN epoch_us(ts) - epoch_us(t0) < 1296000000000
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN epoch_us(ts) - epoch_us(t0) >= 1296000000000
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
      |    CAST(SUM(CASE WHEN epoch_us(ts) - epoch_us(t0) < 1296000000000
      |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np
      |  FROM events, m GROUP BY 1),
      |d AS (SELECT y - x AS d, CASE WHEN np >= 7 THEN 1 ELSE 0 END AS g FROM pu),
      |a AS (
      |  SELECT CAST(SUM(1 - g) AS BIGINT) AS n_ctl, CAST(SUM(g) AS BIGINT) AS n_exp,
      |    CAST(SUM(d * (1 - g)) AS BIGINT) AS sd0, CAST(SUM(d * g) AS BIGINT) AS sd1,
      |    CAST(SUM(d * d * (1 - g)) AS BIGINT) AS sdd0,
      |    CAST(SUM(d * d * g) AS BIGINT) AS sdd1
      |  FROM d),
      |s AS (
      |  SELECT *,
      |    CAST(sd0 AS DOUBLE) / CAST(n_ctl AS DOUBLE) AS md0,
      |    CAST(sd1 AS DOUBLE) / CAST(n_exp AS DOUBLE) AS md1,
      |    (CAST(sdd0 AS DOUBLE) - CAST(sd0 AS DOUBLE) * CAST(sd0 AS DOUBLE)
      |      / CAST(n_ctl AS DOUBLE)) / (CAST(n_ctl AS DOUBLE) - 1.0) AS v0,
      |    (CAST(sdd1 AS DOUBLE) - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE)
      |      / CAST(n_exp AS DOUBLE)) / (CAST(n_exp AS DOUBLE) - 1.0) AS v1
      |  FROM a),
      |v AS (
      |  SELECT *, md1 - md0 AS did_raw,
      |    sqrt(v0 / CAST(n_ctl AS DOUBLE) + v1 / CAST(n_exp AS DOUBLE)) AS se_raw
      |  FROM s)
      |SELECT n_ctl, n_exp,
      |  round(md0 / 100.0, 6) AS mean_delta_ctl,
      |  round(md1 / 100.0, 6) AS mean_delta_exp,
      |  round(did_raw / 100.0, 6) AS did,
      |  round(se_raw / 100.0, 6) AS se,
      |  CAST(floor(did_raw / se_raw * 1000.0) AS BIGINT) AS t_milli
      |FROM v ORDER BY n_ctl""".stripMargin


  // ------------------------------------------- group-sequential monitoring
  /** Group-sequential A/B monitoring with O'Brien–Fleming boundaries —
    * the "peek early without inflating alpha" readout every
    * experimentation platform runs between [[aaTest]] (one final look)
    * and full sequential testing: five interim looks at days 6/12/18/
    * 24/30, a two-sample z per look on the per-user cumulative value,
    * and the pinned OBF two-sided α=0.05 critical values for K=5
    * (4.562, 3.226, 2.634, 2.281, 2.040 — conservative early, nominal
    * late). A look "crosses" when |z| ≥ the boundary. Arms are the
    * [[aaTest]] splitmix randomization, so on this fixture the
    * expected readout is NO crossing at any look — a crossing here
    * means the boundary math (or the hash) broke.
    *
    * Exactness: per-(user, look) totals are exact centi-unit BIGINTs;
    * a user's events fan out only to the looks that include them
    * (explode of ≤5 look ids — no user×look grid), absent users
    * contribute 0 to Σ and Σ² but stay in n via the arm census. The z
    * is scalar double math on exact moments (the [[cuped]] contract),
    * floored to milli; boundaries are pinned integer literals.
    *
    * Scale: one corpus scan → (user, look) partial sums (≤5× the
    * events in shuffle weight), one fold to the 10-row (look, arm)
    * moment table, the arm census broadcast. Nothing driver-side.
    */
  def sequentialTest(spark: SparkSession, dir: String): DataFrame =
    sequentialTestOn(events(spark, dir))

  def sequentialTestOn(ev: DataFrame): DataFrame = {
    val t0 = ev.agg(min(col("ts")).as("t0"))
    val perUserLook = ev.crossJoin(broadcast(t0))
      .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("day", expr(
        "(unix_micros(ts) - unix_micros(t0)) div 86400000000"))
      .filter(col("day") < 30)
      .select(col("user_id"), col("vc"),
        explode(expr("sequence(cast(day div 6 as int) + 1, 5)")).as("look"))
      .groupBy(col("user_id"), col("look"))
      .agg(sum(col("vc")).as("tot"))
      .withColumn("arm", expr("pmod(mix64(user_id), 2)").cast("int"))
    val census = perUserLook.select(col("user_id"), col("arm")).distinct()
      .groupBy(col("arm")).agg(count(lit(1)).as("n_arm"))
    val moments = perUserLook.groupBy(col("look"), col("arm"))
      .agg(sum(col("tot")).as("s1"), sum(col("tot") * col("tot")).as("s2"))
      .join(broadcast(census), "arm")
    val wide = moments.groupBy(col("look")).agg(
      max(when(col("arm") === 0, col("n_arm"))).as("n0"),
      max(when(col("arm") === 1, col("n_arm"))).as("n1"),
      max(when(col("arm") === 0, col("s1"))).as("s10"),
      max(when(col("arm") === 1, col("s1"))).as("s11"),
      max(when(col("arm") === 0, col("s2"))).as("s20"),
      max(when(col("arm") === 1, col("s2"))).as("s21"))
    wide
      .withColumn("m0", col("s10").cast("double") / col("n0").cast("double"))
      .withColumn("m1", col("s11").cast("double") / col("n1").cast("double"))
      .withColumn("v0",
        (col("s20").cast("double") - col("s10").cast("double") *
          col("s10").cast("double") / col("n0").cast("double")) /
          (col("n0").cast("double") - lit(1.0)))
      .withColumn("v1",
        (col("s21").cast("double") - col("s11").cast("double") *
          col("s11").cast("double") / col("n1").cast("double")) /
          (col("n1").cast("double") - lit(1.0)))
      .withColumn("z", (col("m1") - col("m0")) /
        sqrt(col("v0") / col("n0").cast("double") +
          col("v1") / col("n1").cast("double")))
      .withColumn("bound_milli", expr(
        "element_at(array(4562L, 3226L, 2634L, 2281L, 2040L), look)"))
      .select(col("look").cast("long").as("look"),
        (col("look") * 6L).cast("long").as("cut_day"),
        col("n0"), col("n1"),
        floor(col("z") * lit(1000.0)).cast("long").as("z_milli"),
        col("bound_milli"),
        (abs(floor(col("z") * lit(1000.0))) >= col("bound_milli"))
          .cast("int").as("crossed"))
      .orderBy(col("look"))
  }

  val sequentialTestSql: String =
    """WITH m AS (SELECT MIN(ts) AS t0 FROM events),
      |d AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS vc,
      |    (epoch_us(ts) - epoch_us(t0)) // 86400000000 AS day
      |  FROM events, m),
      |pl AS (
      |  SELECT user_id, CAST(t.look AS INT) AS look,
      |    CAST(SUM(vc) AS BIGINT) AS tot
      |  FROM d, UNNEST(generate_series(CAST(day // 6 AS INT) + 1, 5)) AS t(look)
      |  WHERE day < 30 GROUP BY 1, 2),
      |armed AS (
      |  SELECT user_id, look, tot,
      |    (CAST(((((xor(z2, z2 >> 31)) % 2) + 2) % 2) AS INT)) AS arm
      |  FROM (
      |    SELECT user_id, look, tot,
      |      (CAST(user_id AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS z0,
      |      xor(z0, z0 >> 30) AS x1,
      |      (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065) % 18446744073709551616 AS z1,
      |      xor(z1, z1 >> 27) AS x2,
      |      (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955) % 18446744073709551616 AS z2
      |    FROM pl)),
      |census AS (
      |  SELECT arm, COUNT(*) AS n_arm FROM (SELECT DISTINCT user_id, arm FROM armed) GROUP BY 1),
      |mo AS (
      |  SELECT look, a.arm, CAST(SUM(tot) AS BIGINT) AS s1,
      |    CAST(SUM(tot * tot) AS BIGINT) AS s2, MAX(c.n_arm) AS n_arm
      |  FROM armed a JOIN census c ON a.arm = c.arm GROUP BY 1, 2),
      |w AS (
      |  SELECT look,
      |    MAX(CASE WHEN arm = 0 THEN n_arm END) AS n0,
      |    MAX(CASE WHEN arm = 1 THEN n_arm END) AS n1,
      |    MAX(CASE WHEN arm = 0 THEN s1 END) AS s10,
      |    MAX(CASE WHEN arm = 1 THEN s1 END) AS s11,
      |    MAX(CASE WHEN arm = 0 THEN s2 END) AS s20,
      |    MAX(CASE WHEN arm = 1 THEN s2 END) AS s21
      |  FROM mo GROUP BY 1),
      |zc AS (
      |  SELECT *,
      |    (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(s10 AS DOUBLE) / CAST(n0 AS DOUBLE))
      |    / sqrt(
      |      ((CAST(s20 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE)
      |        / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)) / CAST(n0 AS DOUBLE)
      |      + ((CAST(s21 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s11 AS DOUBLE)
      |        / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) AS z,
      |    ([4562, 3226, 2634, 2281, 2040])[look] AS bound_milli
      |  FROM w)
      |SELECT CAST(look AS BIGINT) AS look, CAST(look * 6 AS BIGINT) AS cut_day,
      |  n0, n1,
      |  CAST(floor(z * 1000.0) AS BIGINT) AS z_milli,
      |  CAST(bound_milli AS BIGINT) AS bound_milli,
      |  CASE WHEN abs(CAST(floor(z * 1000.0) AS BIGINT)) >= bound_milli
      |    THEN 1 ELSE 0 END AS crossed
      |FROM zc ORDER BY look""".stripMargin


  // --------------------------------------------- Kaplan–Meier survival
  /** Kaplan–Meier survival estimate of TIME TO FIRST ERROR per user —
    * the censoring-aware "how long until a user hits a failure" curve
    * a naive mean-duration query gets wrong (users who never failed are
    * CENSORED at their last observation, not dropped, and not counted
    * as failing then). Durations are hours from the user's first event;
    * a user with an error "dies" at their first error, everyone else is
    * censored at their last event.
    *
    * All integer, ppm: the survival product S(t) = Π (n_s − d_s)/n_s
    * folds left-to-right over the duration-ordered risk table with the
    * truncating integer division both engines share, so the curve is
    * bit-exact. Standard KM conventions: at-risk n_t counts deaths AND
    * censorings with duration ≥ t (censored-at-t still at risk at t);
    * censor-only rows carry the running S unchanged.
    *
    * Scale: the corpus reduces to one row per user (two grouped
    * aggregates), then one row per DISTINCT duration — bounded by the
    * observation window in hours, i.e. the calendar, never the corpus;
    * the suffix-sum window and the fold run on that bounded table.
    */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame =
    kaplanMeierOn(events(spark, dir))

  def kaplanMeierOn(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"),
        min(when(col("event_type") === "error", col("ts"))).as("te"))
      .select(col("user_id"),
        when(col("te").isNotNull,
          expr("(unix_micros(te) - unix_micros(t0)) div 3600000000"))
          .otherwise(expr("(unix_micros(t1) - unix_micros(t0)) div 3600000000"))
          .as("t_hours"),
        col("te").isNotNull.cast("long").as("death"))
    // risk table: one row per distinct duration (calendar-bounded); the
    // unpartitioned suffix-sum window runs over THIS table, not events
    val risk = perUser.groupBy(col("t_hours"))
      .agg(sum(col("death")).as("d"),
        sum(lit(1L) - col("death")).as("c"))
      .withColumn("n", sum(col("d") + col("c")).over(
        Window.orderBy(col("t_hours").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    risk.groupBy()
      .agg(expr("array_sort(collect_list(struct(t_hours, d, c, n)))").as("arr"))
      .select(expr("""posexplode(arrays_zip(arr,
        |  aggregate(arr, CAST(array() AS array<bigint>),
        |    (acc, x) -> array_append(acc,
        |      (CASE WHEN size(acc) = 0 THEN 1000000L
        |            ELSE acc[size(acc) - 1] END) * (x.n - x.d) div x.n))))
        |""".stripMargin).as(Seq("i", "z")))
      .select(expr("z.arr.t_hours").as("t_hours"),
        expr("z.arr.n").as("n_risk"), expr("z.arr.d").as("n_deaths"),
        expr("z.arr.c").as("n_censored"), expr("z.`1`").as("surv_ppm"))
      .orderBy(col("t_hours"))
  }

  val kaplanMeierSql: String =
    """WITH RECURSIVE u AS (
      |  SELECT user_id, MIN(ts) AS t0, MAX(ts) AS t1,
      |    MIN(CASE WHEN event_type = 'error' THEN ts END) AS te
      |  FROM events GROUP BY 1),
      |pu AS (
      |  SELECT CASE WHEN te IS NOT NULL
      |      THEN (epoch_us(te) - epoch_us(t0)) // 3600000000
      |      ELSE (epoch_us(t1) - epoch_us(t0)) // 3600000000 END AS t_hours,
      |    CASE WHEN te IS NOT NULL THEN 1 ELSE 0 END AS death
      |  FROM u),
      |risk AS (
      |  SELECT t_hours, CAST(SUM(death) AS BIGINT) AS d,
      |    CAST(SUM(1 - death) AS BIGINT) AS c
      |  FROM pu GROUP BY 1),
      |rt AS (
      |  SELECT t_hours, d, c,
      |    CAST(SUM(d + c) OVER (ORDER BY t_hours DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
      |    row_number() OVER (ORDER BY t_hours) AS i
      |  FROM risk),
      |rec AS (
      |  SELECT t_hours, d, c, n, i,
      |    CAST(1000000 * (n - d) // n AS BIGINT) AS s
      |  FROM rt WHERE i = 1
      |  UNION ALL
      |  SELECT rt.t_hours, rt.d, rt.c, rt.n, rt.i,
      |    CAST(rec.s * (rt.n - rt.d) // rt.n AS BIGINT)
      |  FROM rec JOIN rt ON rt.i = rec.i + 1)
      |SELECT t_hours, n AS n_risk, d AS n_deaths, c AS n_censored,
      |  s AS surv_ppm
      |FROM rec ORDER BY t_hours""".stripMargin


  // --------------------------------------------- Shapley attribution
  /** EXACT Shapley-value channel attribution — the game-theoretic
    * completion of [[attributionLinear]] (equal split) and
    * [[attributionMarkov]] (removal effect): each non-purchase channel
    * is a player, a user's coalition is the set of channels they
    * touched before their FIRST purchase, and the characteristic
    * function v(S) counts converters whose coalition ⊆ S. With n = 4
    * channels every Shapley weight |S|!·(n−1−|S|)!/n! is an integer
    * multiple of 1/24, so credits are reported ×24 and are EXACT
    * integers — no floats, no sampling, cross-engine bit-equal. The
    * efficiency identity Σφ = 24·(v(full) − v(∅)) is pinned in the spec.
    *
    * Scale: ONE user-keyed aggregate (bit_or of channel bits) reduces
    * the corpus to ≤2ⁿ mask rows; everything after — the subset
    * lattice, the ⊆-join computing v, the per-channel marginal sums —
    * is arithmetic on a ≤16-row table (the two broadcast nested-loop
    * joins below are over that bounded lattice, whitelisted in
    * PlanHygieneSpec). 100 TB of events changes only the first
    * aggregate.
    */
  def attributionShapley(spark: SparkSession, dir: String): DataFrame =
    attributionShapleyOn(events(spark, dir))

  def attributionShapleyOn(evIn: DataFrame): DataFrame = {
    val ev = evIn
      .select(col("user_id"), col("ts"), col("event_type"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("fp_ts"))
    val masks = fp.join(ev, Seq("user_id"), "left")
      .withColumn("bit", when(col("event_type") === "click", 1)
        .when(col("event_type") === "error", 2)
        .when(col("event_type") === "signup", 4)
        .when(col("event_type") === "view", 8))
      .withColumn("bit",
        when(col("ts") < col("fp_ts"), col("bit")).otherwise(lit(null)))
      .groupBy(col("user_id"))
      .agg(coalesce(bit_or(col("bit")), lit(0)).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("n_conv"))
    val spark2 = ev.sparkSession
    val subsets = spark2.range(16).select(col("id").cast("int").as("s"))
    // v(S) = converters whose mask ⊆ S — a ⊆-join on the ≤16×16 lattice
    // staged: the Shapley grid joins v(S) twice (S and S∪{bit}) — un-
    // staged, the events mask aggregation ran once per reference
    // (PlanAudit r16 ×2; guide §1.2). 16 rows.
    val v = graft.engine.Materialize.stage(
      subsets.join(broadcast(masks), expr("(mask & s) = mask"), "left")
        .groupBy(col("s")).agg(coalesce(sum(col("n_conv")), lit(0L)).as("v")))
    val chan = spark2.createDataFrame(Seq(
        (1, "click"), (2, "error"), (4, "signup"), (8, "view")))
      .toDF("bit", "channel")
    val grid = chan.join(broadcast(v), expr("(s & bit) = 0"))
      .join(broadcast(v.select(col("s").as("s2"), col("v").as("v2"))),
        expr("s2 = (s | bit)"))
      .withColumn("w", expr("""CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2
        WHEN 2 THEN 2 ELSE 6 END"""))
    grid.groupBy(col("channel"))
      .agg(sum(expr("w * (v2 - v)")).as("phi_x24"),
        sum(when(col("s") === 0, col("v2") - col("v"))
          .otherwise(0L)).as("solo_lift"))
      .orderBy(col("channel"))
  }

  val attributionShapleySql: String =
    """WITH fp AS (
      |  SELECT user_id, MIN(ts) AS fp_ts FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |m AS (
      |  SELECT fp.user_id,
      |    COALESCE(bit_or(CASE WHEN e.ts < fp.fp_ts THEN
      |      CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
      |        WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END END), 0) AS mask
      |  FROM fp LEFT JOIN events e ON e.user_id = fp.user_id
      |  GROUP BY 1),
      |mset AS (SELECT mask, COUNT(*) AS n_conv FROM m GROUP BY 1),
      |subsets AS (SELECT UNNEST(generate_series(0, 15)) AS s),
      |v AS (
      |  SELECT s, CAST(COALESCE(SUM(n_conv), 0) AS BIGINT) AS v
      |  FROM subsets LEFT JOIN mset ON (mask & s) = mask GROUP BY s),
      |chan AS (SELECT * FROM (VALUES (1, 'click'), (2, 'error'),
      |  (4, 'signup'), (8, 'view')) AS t(bit, channel)),
      |grid AS (
      |  SELECT c.channel, a.s, a.v, b.v AS v2,
      |    CASE bit_count(a.s) WHEN 0 THEN 6 WHEN 1 THEN 2
      |      WHEN 2 THEN 2 ELSE 6 END AS w
      |  FROM chan c JOIN v a ON (a.s & c.bit) = 0
      |  JOIN v b ON b.s = (a.s | c.bit))
      |SELECT channel, CAST(SUM(w * (v2 - v)) AS BIGINT) AS phi_x24,
      |  CAST(SUM(CASE WHEN s = 0 THEN v2 - v ELSE 0 END) AS BIGINT)
      |    AS solo_lift
      |FROM grid GROUP BY channel ORDER BY channel""".stripMargin


  // --------------------------------------------- Poisson dispersion test
  /** Overdispersion (Fano factor) audit of hourly event arrivals, per
    * type — the one-number test between "this traffic is Poisson (bots,
    * uniform load)" and "this traffic is bursty (humans, incidents)":
    * dispersion = sample variance / mean of the zero-filled hourly
    * counts; ≈1 is Poisson, ≫1 is bursty, ≪1 is rate-limited. Exact
    * fixed point: with the hour count n and moments S₁ = Σx, S₂ = Σx²,
    *   fano_ppm = 10⁶·(n·S₂ − S₁²) div ((n − 1)·S₁)
    * (variance·n(n−1) over mean·n(n−1) — one truncating division, no
    * doubles anywhere).
    *
    * Scale: hourly counts aggregate distributed (map-side combine);
    * the moment fold is a second bounded aggregate over the
    * calendar-sized grid — zero-filled via the same range broadcast as
    * [[ewmaMonitor]], because missing hours ARE data here.
    */
  def dispersionTest(spark: SparkSession, dir: String): DataFrame = {
    val hc = events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("x"))
    val range = hc.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val grid = hc.select(col("event_type")).distinct()
      .crossJoin(broadcast(range))
      .select(col("event_type"), explode(expr("sequence(lo, hi)")).as("h"))
    grid.join(hc, Seq("event_type", "h"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("s1"),
        sum(expr("x * x")).as("s2"))
      .withColumn("mean_milli", expr("(s1 * 1000L) div n_hours"))
      // DECIMAL(38,0): 10⁶·(n·S₂ − S₁²) passes BIGINT range once hourly
      // volumes reach ~10⁷ events/type (the q103/ARI pattern; HUGEINT
      // mirrors it in the oracle)
      .withColumn("fano_ppm", expr(
        """cast((1000000 * (cast(n_hours as decimal(38,0)) * s2
          |  - cast(s1 as decimal(38,0)) * s1))
          | div (cast(n_hours - 1 as decimal(38,0)) * s1) as bigint)""".stripMargin))
      .select(col("event_type"), col("n_hours"), col("s1").as("n_events"),
        col("mean_milli"), col("fano_ppm"))
      .orderBy(col("event_type"))
  }

  val dispersionTestSql: String =
    """WITH hc AS (
      |  SELECT event_type, epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
      |    COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM hc),
      |grid AS (
      |  SELECT t.event_type, g.h
      |  FROM (SELECT DISTINCT event_type FROM hc) t,
      |    (SELECT UNNEST(generate_series(lo, hi)) AS h FROM r) g),
      |xs AS (
      |  SELECT grid.event_type, COALESCE(hc.x, 0) AS x
      |  FROM grid LEFT JOIN hc USING (event_type, h)),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n_hours,
      |    CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x * x) AS BIGINT) AS s2
      |  FROM xs GROUP BY 1)
      |SELECT event_type, n_hours, s1 AS n_events,
      |  CAST((s1 * 1000) // n_hours AS BIGINT) AS mean_milli,
      |  CAST((1000000 * (CAST(n_hours AS HUGEINT) * s2
      |      - CAST(s1 AS HUGEINT) * s1))
      |    // (CAST(n_hours - 1 AS HUGEINT) * s1) AS BIGINT) AS fano_ppm
      |FROM m ORDER BY event_type""".stripMargin


  // ------------------------------------------------- Poisson bootstrap CI
  /** Poisson-bootstrap confidence interval for mean purchase value — THE
    * distributed bootstrap: classical resampling draws n rows WITH
    * replacement per replicate, which needs global coordination, but for
    * large n the multinomial row-counts converge to independent
    * Poisson(1) draws, so each row mints its own per-replicate weight
    * from a hash and every replicate's weighted mean reduces map-side in
    * one pass. 64 replicates ride one explode — the exchange carries 64
    * partial (Σwx, Σw) states per task, never rows. Weights are the
    * inverse-CDF ladder of Poisson(1) on the low 20 bits of
    * `mix64(event_id·64 + b)` (thresholds = ⌊F(k)·2²⁰⌋, truncated at 6),
    * value in exact micro-units, so the oracle replays the splitmix64
    * chain and every weighted sum bit for bit. CI = the
    * ⌈0.025·B_valid⌉-th / mirrored order statistic of the replicate
    * means (means sort on a ≤64-row bounded window); replicates whose
    * total weight is zero are dropped from the order statistics on both
    * engines (n≥1 corpora would otherwise divide by zero — the
    * sesBacktest guard class).
    */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val ev = bootstrapPurchases(spark, dir)
    bootstrapCiFrom(bootstrapStates(ev), ev)
  }

  /** The scored population: purchase events in exact micro-units. */
  def bootstrapPurchases(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"),
        expr("cast(floor(value * 1000000.0d + 0.5d) as bigint)").as("v"))

  /** Per-replicate (Σ w·v, Σ w) states — the fold the STREAMING twin
    * hosts in a complete-mode aggregation ([[BootstrapIngest]]): the
    * explode + hash-weight projection is stateless, the per-b sums are
    * an abelian monoid. Shared verbatim with the batch operator.
    */
  def bootstrapStates(ev: DataFrame): DataFrame = {
    ev.select(col("event_id"), col("v"),
        explode(expr("sequence(0L, 63L)")).as("b"))
      .withColumn("u", expr("pmod(mix64(event_id * 64L + b), 1048576L)"))
      .withColumn("w", expr(
        """CASE WHEN u < 385749L THEN 0L WHEN u < 771499L THEN 1L
          |     WHEN u < 964373L THEN 2L WHEN u < 1028665L THEN 3L
          |     WHEN u < 1044738L THEN 4L WHEN u < 1047952L THEN 5L
          |     ELSE 6L END""".stripMargin))
      .groupBy(col("b"))
      // Σ w·v through DECIMAL(38,0): long math wraps at ~10¹² rows per
      // replicate (w ≤ 6, v ≤ 10⁹) — the q79 overflow class, and the
      // oracle's SUM is HUGEINT anyway
      .agg(sum((col("w") * col("v")).cast(org.apache.spark.sql.types
        .DecimalType(38, 0))).as("s"), sum(col("w")).as("n"))
  }

  /** CI tail over the replicate states (order statistics + the point
    * estimate) — read-time on a ≤64-row grid, shared stream/batch.
    */
  def bootstrapCiFrom(states: DataFrame, ev: DataFrame): DataFrame = {
    // staged: the ≤64-row means grid branches (ranked rows + count + the
    // rank filter) — unstaged, each branch re-runs the 64× explode pass
    val means = graft.engine.Materialize.stage(states
      .filter(col("n") > 0L)
      .select(col("b"), expr("cast(s div n as bigint)").as("m")))
    // order statistics over the ≤64-row replicate grid (bounded window)
    val ranked = means
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("m"), col("b"))).cast("long"))
      .crossJoin(broadcast(means.agg(count(lit(1)).as("bv"))))
    val point = ev.agg(count(lit(1)).as("n_events"),
      expr("""CASE WHEN count(1) > 0 THEN
        |cast(sum(cast(v as decimal(38,0))) div count(1) as bigint)
        |END""".stripMargin).as("mean_micro"))
    ranked
      .withColumn("r_lo", expr("(bv * 25 + 999) div 1000"))
      .filter(col("rk") === col("r_lo") ||
        col("rk") === col("bv") + 1L - col("r_lo"))
      .agg(max(col("bv")).as("n_replicates"),
        min(col("m")).as("ci_lo_micro"), max(col("m")).as("ci_hi_micro"))
      .crossJoin(broadcast(point))
      .select(col("n_events"), col("n_replicates"), col("mean_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"))
  }

  val bootstrapCiSql: String =
    """WITH ev AS (
      |  SELECT event_id,
      |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase'),
      |rep AS (
      |  SELECT e.event_id, e.v, g.b,
      |    (CAST(e.event_id * 64 + g.b AS HUGEINT) + 11400714819323198485)
      |      % 18446744073709551616 AS z0
      |  FROM ev e, (SELECT UNNEST(generate_series(0, 63)) AS b) g),
      |hx AS (
      |  SELECT event_id, v, b,
      |    xor(z0, z0 >> 30) AS x1,
      |    (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065)
      |      % 18446744073709551616 AS z1,
      |    xor(z1, z1 >> 27) AS x2,
      |    (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955)
      |      % 18446744073709551616 AS z2,
      |    xor(z2, z2 >> 31) AS z3,
      |    CAST(z3 % 1048576 AS BIGINT) AS u
      |  FROM rep),
      |w AS (
      |  SELECT b, v,
      |    CASE WHEN u < 385749 THEN 0 WHEN u < 771499 THEN 1
      |         WHEN u < 964373 THEN 2 WHEN u < 1028665 THEN 3
      |         WHEN u < 1044738 THEN 4 WHEN u < 1047952 THEN 5
      |         ELSE 6 END AS w
      |  FROM hx),
      |means AS (
      |  SELECT b, CAST(SUM(w * v) // SUM(w) AS BIGINT) AS m
      |  FROM w GROUP BY b HAVING SUM(w) > 0),
      |ranked AS (
      |  SELECT m, row_number() OVER (ORDER BY m, b) AS rk,
      |    COUNT(*) OVER () AS bv
      |  FROM means),
      |point AS (
      |  SELECT COUNT(*) AS n_events,
      |    CASE WHEN COUNT(*) > 0
      |      THEN CAST(SUM(v) // COUNT(*) AS BIGINT) END AS mean_micro
      |  FROM ev)
      |SELECT p.n_events, CAST(MAX(r.bv) AS BIGINT) AS n_replicates,
      |  p.mean_micro, MIN(r.m) AS ci_lo_micro, MAX(r.m) AS ci_hi_micro
      |FROM ranked r, point p
      |WHERE r.rk = (r.bv * 25 + 999) // 1000
      |   OR r.rk = r.bv + 1 - (r.bv * 25 + 999) // 1000
      |GROUP BY p.n_events, p.mean_micro""".stripMargin

}
