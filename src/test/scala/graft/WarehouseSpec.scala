package graft

import org.apache.spark.sql.functions._

import graft.queries.Warehouse

/** Semantics tests for the warehouse-maintenance operators (histogram
  * profile, MERGE upsert, SCD2 history) at sf0.001, plus invariants a
  * value-level oracle can't express (bucket coverage, merge row algebra,
  * validity-chain contiguity).
  */
class WarehouseSpec extends SparkSpecBase {

  test("histogram buckets cover every order exactly once and bound the data") {
    val orders = graft.engine.Tables.load(spark, sf(), "orders")
    val h = Warehouse.q54Histogram(spark, sf()).collect()
    assert(h.map(_.getLong(3)).sum == orders.count())
    assert(h.forall(r => r.getInt(0) >= 0 && r.getInt(0) <= 24))
    // regular buckets are 20k wide; bucket 24 is the unbounded overflow
    assert(h.filter(_.getInt(0) < 24).forall(r => r.getLong(2) - r.getLong(1) == 20000L))
    assert(h.filter(_.getInt(0) == 24).forall(_.isNullAt(2)))
  }

  test("merge upsert applies update/delete/insert row algebra") {
    val o = graft.engine.Tables.load(spark, sf(), "orders")
    val n = o.count()
    val nUpd = o.filter(col("o_orderkey") % 7 === 0).count()
    val nDel = o.filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") % 7 =!= 0).count()
    val nIns = o.filter(col("o_orderkey") % 13 === 0).count()
    val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)

    val m = Warehouse.q55MergeUpsert(spark, sf())
    assert(m.count() == n - nDel + nIns)
    // updates carry the bumped price and the U status
    assert(m.filter(col("o_orderstatus") === "U").count() == nUpd)
    // deleted keys are gone
    assert(m.filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") % 7 =!= 0
      && col("o_orderkey") <= maxKey).count() == 0)
    // inserts all land strictly above the old key space
    assert(m.filter(col("o_orderstatus") === "I").count() == nIns)
    assert(m.filter(col("o_orderkey") > maxKey).count() == nIns)
  }

  test("scd2 versions are contiguous per customer with exactly one current row") {
    val s = Warehouse.q56Scd2(spark, sf())
    val perCust = s.groupBy(col("o_custkey"))
      .agg(sum(col("is_current")).as("cur"), count(lit(1)).as("n"))
    // one open-ended current version per customer
    assert(perCust.filter(col("cur") =!= 1).count() == 0)
    // the validity chain links: this row's valid_to = next row's valid_from
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("version"))
    val broken = s.withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("next_from").isNotNull && col("valid_to") =!= col("next_from"))
    assert(broken.count() == 0)
  }

  test("q60 skew probe: shares and salt factors are the exact integer forms") {
    val rows = Warehouse.q60SkewProbe(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.length == 10)
    // descending by count, user_id tie-break
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
    val total = graft.engine.Tables.load(spark, sf(), "events").count()
    rows.foreach { case (_, cnt, ppm, salt) =>
      assert(ppm == cnt * 1000000L / total)
      assert(salt == ((cnt * 32 + total - 1) / total).toInt)
      assert(salt >= 1)
    }
  }

  test("q61 approx-percentile rank bound holds at both fixture scales") {
    for (dir <- Seq("/root/testdata/sf0.001", sf())) {
      val r = graft.queries.Core.q61ApproxPctlBound(spark, dir).head()
      assert(r.getBoolean(1) && r.getBoolean(2), s"$dir: $r")
    }
  }

  test("k-core peel keeps exactly the dense core and is idempotent") {
    import spark.implicits._
    // triangle {1,2,3} + a path 3-4-5 hanging off it: the 2-core is the
    // triangle (4 and 5 peel in two successive rounds — exercises the
    // multi-round cascade), and the 3-core of triangle+pendant is empty
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("pa", "pb")
    val core2 = Warehouse.kcoreOn(edges, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(core2 == Seq((1L, 2L), (2L, 2L), (3L, 2L)), core2)
    assert(Warehouse.kcoreOn(edges, k = 3).count() == 0)
    // idempotence (the property the fixed oracle unroll relies on):
    // peeling an already-stable core changes nothing
    val stable = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("pa", "pb")
    val again = Warehouse.kcoreOn(stable, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again == core2, again)
  }

  test("q64 interval overlap: every reported pair count is positive and bounded") {
    val r = Warehouse.q64IntervalOverlap(spark, sf()).collect()
    assert(r.nonEmpty)
    // per-customer pair count is bounded by C(orders_per_customer, 2)
    val maxOrders = graft.engine.Tables.load(spark, sf(), "orders")
      .groupBy(col("o_custkey")).count().agg(max(col("count"))).head().getLong(0)
    assert(r.forall(x =>
      x.getLong(1) >= 1 && x.getLong(1) <= maxOrders * (maxOrders - 1) / 2))
    assert(r.forall(_.getInt(2) >= 100))
  }

  test("q66 keyless interval join: plans as an equi-join on bucket id and matches the direct quadratic join") {
    val df = Warehouse.q66IntervalBuckets(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    // the join must be keyed on the time bucket — hash or sort-merge,
    // never a nested-loop over the keyless inequality predicates
    assert(plan.contains("bucket"), plan.take(2000))
    assert(Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(plan.contains), plan.take(2000))
    // bucket-binned + first-shared-bucket dedup == the direct quadratic
    // join (feasible at test scale) — boundaries and dedup are exact
    val W = 21600000000L
    val iv = graft.engine.Tables.load(spark, sf(), "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(expr("unix_micros(min(ts))").as("s"), expr("unix_micros(max(ts))").as("e"))
      .filter(col("e") - col("s") >= 600000000L)
      .select((col("user_id") * 100000L +
        expr("unix_micros(cast(d as timestamp)) div 86400000000")).as("ik"),
        col("s"), col("e"))
    val a = iv.select(col("ik").as("ka"), col("s").as("sa"), col("e").as("ea"))
    val b = iv.select(col("ik").as("kb"), col("s").as("sb"), col("e").as("eb"))
    val direct = a.crossJoin(b)
      .filter(col("ka") < col("kb") && col("sa") <= col("eb") &&
        col("sb") <= col("ea"))
      .withColumn("ov", least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
      .filter(col("ov") >= 3600000000L)
      .groupBy(date_trunc("day", expr("timestamp_micros(greatest(sa, sb))")).as("day"))
      .agg(count(lit(1)).as("n_pairs"), expr("max(ov) div 1000000").as("max_overlap_sec"))
    val got = df.collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val want = direct.collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("temperature mixing flattens the domain distribution") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val n = d.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = graft.ext.TextOps.mixTemperature(spark, sf())
      .groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rate = n.keys.map(l => l -> kept.getOrElse(l, 0L).toDouble / n(l)).toMap
    val big = n.maxBy(_._2)._1
    val small = n.minBy(_._2)._1
    // α = 0.5: the largest domain must keep a strictly smaller FRACTION
    // than the smallest (quota ∝ √n), while still contributing the most
    // absolute documents of any single domain here (√ flattens, it does
    // not invert)
    assert(rate(big) < rate(small), rate.toString)
    assert(kept.values.sum >= n.values.sum / 4)
  }

  test("q70 association rules: confidence and lift are the exact fixed-point forms") {
    val r = Warehouse.q70AssocRules(spark, sf("0.01")).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      val (support, conf, lift) = (x.getLong(2), x.getLong(3), x.getLong(4))
      assert(support >= 3 && conf >= 50000L && conf <= 1000000L,
        s"rule out of gate: $x")
      assert(lift > 0L)
    }
    // directed rules: a→b and b→a both present with the same support
    val bySupport = r.map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val mutual = bySupport.keys.filter(k => bySupport.contains((k._2, k._1)))
    mutual.foreach(k => assert(bySupport(k) == bySupport((k._2, k._1))))
  }

  test("q71 RFM: quartiles are balanced and the code decomposes") {
    val r = Warehouse.q71Rfm(spark, sf("0.01")).collect()
    val codes = r.map(_.getLong(4).toInt)
    assert(codes.forall(c => c >= 111 && c <= 444))
    // ntile(4) balance: each recency quartile within 1 of n/4
    val rq = codes.map(_ / 100).groupBy(identity).view.mapValues(_.size)
    val n = r.length
    rq.values.foreach(c => assert(math.abs(c - n / 4) <= 1, rq.toMap.toString))
  }

  test("geo grid join equals the quadratic truth join, boundaries included") {
    import spark.implicits._
    val r = 100L
    // crafted points: an exact-boundary pair (d = r), a just-outside pair
    // (d = r+1 on one axis), cell-corner neighbors, and a same-point pair
    val a = Seq((1L, 0L, 0L), (2L, 500L, 500L), (3L, 1000L, 1000L))
      .toDF("id", "x", "y")
    val b = Seq((10L, 100L, 0L), (11L, 601L, 500L), (12L, 1070L, 1070L),
      (13L, 500L, 500L)).toDF("id", "x", "y")
    val got = Warehouse.q72GeoJoinOn(a, b, r).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val want = (for {
      (ia, xa, ya) <- Seq((1L, 0L, 0L), (2L, 500L, 500L), (3L, 1000L, 1000L))
      (ib, xb, yb) <- Seq((10L, 100L, 0L), (11L, 601L, 500L), (12L, 1070L, 1070L),
        (13L, 500L, 500L))
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      if d2 <= r * r
    } yield (ia, ib, d2)).toSet
    assert(got == want, s"got $got want $want")
    // the boundary pair is IN, the r+1 pair is OUT
    assert(got.contains((1L, 10L, 10000L)) && !got.exists(_._2 == 11L))
  }

  test("q72 geo join plans as an equi-join on the cell key, never nested-loop") {
    val plan = Warehouse.q72GeoJoin(spark, sf()).queryExecution
      .executedPlan.toString
    assert(plan.contains("cell"), plan.take(2000))
    assert(Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(plan.contains), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q73 negative samples are never-purchased items, deterministic, k per customer") {
    val r = Warehouse.q73NegativeSample(spark, sf("0.01")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.nonEmpty)
    r.groupBy(_._1).values.foreach(xs => assert(xs.length <= 3))
    // no sampled negative appears in the customer's purchase history
    val seen = graft.engine.Tables.load(spark, sf("0.01"), "orders")
      .join(graft.engine.Tables.load(spark, sf("0.01"), "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    r.foreach { case (c, _, item) =>
      assert(!seen.contains((c, item)), s"negative ($c, $item) was purchased") }
    // reproducible: a second run returns the identical sample
    val r2 = Warehouse.q73NegativeSample(spark, sf("0.01")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.sameElements(r2))
  }

  test("personalized pagerank concentrates mass on and around the seed set") {
    val r = graft.ext.Dedup.pagerankSeeded(spark, sf("0.001")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val (seeds, rest) = r.partition(_._1 % 50 == 0)
    assert(seeds.nonEmpty)
    // isolated non-seeds get NO teleport mass (unlike classic pagerank)
    rest.filter(_._3 == 0).foreach(x => assert(x._2 == 0L, x.toString))
    // every seed keeps at least its own teleport share
    val nSeeds = seeds.length
    val base = (15L * (1000000000000L / nSeeds)) / 100L
    seeds.foreach(x => assert(x._2 >= base, x.toString))
  }

  test("q93 Benford audit: ppm shares close, expectations exact, clamp control flags") {
    val r = Warehouse.q93BenfordAudit(spark, sf()).collect()
      .map(x => (x.getString(0), x.getInt(1), x.getLong(2), x.getLong(3),
        x.getInt(4), x.getLong(5)))
    // the pinned Benford expectations match log10(1+1/d) to the ppm and
    // sum to exactly 1e6 over the 9 digits
    val benford = Map(1 -> 301030, 2 -> 176091, 3 -> 124939, 4 -> 96910,
      5 -> 79181, 6 -> 66947, 7 -> 57992, 8 -> 51153, 9 -> 45757)
    assert(benford.values.sum == 1000000)
    benford.foreach { case (d, v) =>
      assert(math.abs(v - 1e6 * math.log10(1.0 + 1.0 / d)) < 1.0) }
    r.foreach(x => assert(x._5 == benford(x._2)))
    // per source: observed ppm sums to 1e6 within the ≤9-row floor loss,
    // and delta is exactly obs - expected
    r.groupBy(_._1).foreach { case (src, rows) =>
      val s = rows.map(_._4).sum
      assert(s <= 1000000L && s >= 1000000L - 9, s"$src obs_ppm sum $s")
      rows.foreach(x => assert(x._6 == x._4 - x._5))
    }
    // the range-clamped positive control: every part price leads with 9
    val part = r.filter(_._1 == "part.p_retailprice")
    assert(part.length == 1 && part.head._2 == 9 && part.head._4 == 1000000L)
  }

  test("q94 cohort LTV: age-0 covers the cohort, cumulative is a running total") {
    val orders = graft.engine.Tables.load(spark, sf(), "orders")
    val r = Warehouse.q94CohortLtv(spark, sf()).collect()
      .map(x => (x.getString(0), x.getInt(1).toLong, x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6), x.getLong(7)))
    assert(r.map(_._3).sum == orders.count()) // every order in exactly one cell
    r.groupBy(_._1).foreach { case (cohort, rows) =>
      val sorted = rows.sortBy(_._2)
      // a cohort's first month IS its members' first order month
      assert(sorted.head._2 == 0L, s"$cohort min age ${sorted.head._2}")
      assert(sorted.head._4 == sorted.head._7, s"$cohort age-0 active != size")
      // cumulative = prefix sum of the sparse monthly revenue
      sorted.scanLeft(0L)(_ + _._5).tail.zip(sorted).foreach { case (pre, row) =>
        assert(row._6 == pre, s"$cohort age ${row._2}")
        assert(row._8 == pre / row._7) // ltv = cum div size (both nonneg)
      }
    }
  }

  test("q95 expectations: rows-checked honest, pass flag consistent, red row red") {
    val r = Warehouse.q95ExpectationSuite(spark, sf()).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getInt(4)))
    assert(r.length == 13)
    val byName = r.map(x => x._1 -> x).toMap
    // rows_checked is the real table size, not a sampled count
    val li = graft.engine.Tables.load(spark, sf(), "lineitem").count()
    assert(byName("lineitem.l_shipdate.ge(o_orderdate)")._2 == li)
    assert(byName("nation.rowcount==25")._2 == 25L)
    r.foreach { x =>
      assert(x._5 == (if (x._3 == 0L) 1 else 0), x._1) // pass ⇔ zero violations
      assert(x._4 == x._3 * 1000000L / x._2, x._1)     // ppm is the floor div
    }
    // the generator doesn't order ship dates after order dates: the gate
    // must actually fail that check, and only that check
    assert(r.filter(_._5 == 0).map(_._1).toSeq ==
      Seq("lineitem.l_shipdate.ge(o_orderdate)"))
  }

  test("q97 backlog curve: conservation and prefix-sum replay") {
    val orders = graft.engine.Tables.load(spark, sf(), "orders")
    val li = graft.engine.Tables.load(spark, sf(), "lineitem")
    val r = Warehouse.q97BacklogCurve(spark, sf()).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.map(_._1).toSeq == r.map(_._1).toSeq.sorted)
    assert(r.map(_._2).sum == orders.count()) // every order opens once
    // every order with lines closes exactly once
    assert(r.map(_._3).sum == li.select("l_orderkey").distinct().count())
    // the backlog is the exact prefix sum; the final value is the number
    // of orders that never close (no lines)
    var run = 0L
    r.foreach { x => run += x._2 - x._3; assert(x._4 == run, x._1) }
    assert(r.last._4 == orders.count() - li.select("l_orderkey").distinct().count())
  }

  test("q102 discount lift: bands partition the lines, baseline lift is exactly 1e6") {
    val li = graft.engine.Tables.load(spark, sf(), "lineitem")
    val r = Warehouse.q102DiscountLift(spark, sf()).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.map(_._2).sum == li.count())          // every line in one band
    assert(r.map(_._1).toSeq == r.map(_._1).toSeq.sorted)
    assert(r.forall(x => x._1 >= 0 && x._1 <= 10)) // the fixture's grid
    val base = r.find(_._1 == 0L).get
    assert(base._4 == 1000000L)                    // baseline lifts itself by 1
    // mean_qty_c is the exact truncating rational per band
    r.foreach(x => assert(x._3 >= 100L && x._3 <= 5000L, x.toString))
  }

  test("q101 seasonal index: serial ratio-to-moving-average replay") {
    val monthly = graft.engine.Tables.load(spark, sf(), "orders")
      .selectExpr("year(o_orderdate) * 12 + month(o_orderdate) AS ym")
      .groupBy("ym").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).sortBy(_._1)
    val byYm = monthly.toMap
    val idx = monthly.flatMap { case (ym, n) =>
      val win = (ym - 6 to ym + 5).flatMap(byYm.get)
      if (win.length == 12) Some(ym -> n * 12L * 1000000L / win.sum) else None
    }
    // ym = year*12 + month → month = ((ym - 1) % 12) + 1 (ADVICE r11:
    // the naive ym % 12 + 1 labeled January as 2 … December as 1)
    val expect = idx.groupBy { case (ym, _) => (ym - 1) % 12 + 1 }.map {
      case (m, xs) =>
        val vs = xs.map(_._2)
        m -> (xs.length.toLong, vs.sum / vs.length, vs.min, vs.max)
    }
    val r = Warehouse.q101SeasonalIndex(spark, sf()).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r.keySet == expect.keySet)
    expect.foreach { case (m, e) => assert(r(m) == e, s"month $m") }
  }

  test("q100 item CF: dense top-3 ranks, cosine bounded, support floor holds") {
    val r = Warehouse.q100ItemCf(spark, sf()).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r.nonEmpty)
    r.groupBy(_._1).foreach { case (part, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length), s"part $part")
      assert(rows.length <= 3)
      // scores nonincreasing in rank
      rows.sortBy(_._2).map(_._5).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a >= b, s"part $part"); case _ => }
    }
    r.foreach { x =>
      assert(x._4 >= 3L)                        // support floor
      assert(x._5 >= 0L && x._5 <= 1000000L)    // cos² ≤ 1 (c ≤ min(na, nb))
      assert(x._3 != x._1)                      // never recommends itself
    }
  }

  test("q99 Wilson rank: serial formula replay, LB below the rate, ranks permute") {
    val r = Warehouse.q99WilsonRank(spark, sf()).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6)))
    val k = r.length
    assert(r.map(_._6).sorted.toSeq == (1L to k) && r.map(_._7).sorted.toSeq == (1L to k))
    r.foreach { x =>
      val (n, ret) = (x._2.toDouble, x._3.toDouble)
      val p = ret / n
      val lb = (p + 3.8416 / (2.0 * n) -
        1.96 * math.sqrt(p * (1.0 - p) / n + 3.8416 / (4.0 * n * n))) /
        (1.0 + 3.8416 / n)
      assert(x._5 == math.floor(lb * 1000000.0).toLong, x._1)
      assert(x._5 <= x._4, x._1)  // the bound is a LOWER bound
      assert(x._4 == x._3 * 1000000L / x._2)
    }
  }

  test("q98 MV delta fold: identity on empty delta, new cells appear, monoid assoc") {
    import graft.engine.MatView
    val li = graft.engine.Tables.load(spark, sf(), "lineitem")
    val full = MatView.aggregate(li).collect()
      .map(r => (r.getString(0), r.getString(1), r.get(2).toString,
        r.getLong(3), r.getDouble(4))).toSet
    // empty delta is identity
    val mv = MatView.aggregate(li)
    val same = MatView.applyDelta(mv, li.filter(lit(false))).collect()
      .map(r => (r.getString(0), r.getString(1), r.get(2).toString,
        r.getLong(3), r.getDouble(4))).toSet
    assert(same == full)
    // two folds in sequence (base ⊕ d1 ⊕ d2) equal the full rebuild,
    // including cells that exist ONLY in a delta
    val base = MatView.aggregate(li.filter(expr("l_orderkey % 3 = 0")))
    val step1 = MatView.applyDelta(base, li.filter(expr("l_orderkey % 3 = 1")))
    val step2 = MatView.applyDelta(step1, li.filter(expr("l_orderkey % 3 = 2")))
    val got = step2.collect()
      .map(r => (r.getString(0), r.getString(1), r.get(2).toString,
        r.getLong(3), r.getDouble(4))).toSet
    assert(got == full)
    assert(base.count() < full.size) // deltas genuinely added new cells
  }

  test("q96 MV rewrite: plan reads the view, answers match base, ineligible untouched") {
    val mvPath = java.nio.file.Files.createTempDirectory("graft_mv_spec").toString + "/mv"
    graft.engine.MatView.buildLineitem(spark, sf(), mvPath)
    def dashboard() = graft.engine.Tables.load(spark, sf(), "lineitem")
      .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
        avg(col("l_quantity")).as("avg_qty"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
        expr("sum(floor(l_extendedprice * 100.0 + 0.5))").as("rev_cents"))
      .orderBy(col("l_returnflag"))
    val off = dashboard().collect().toSeq
    spark.conf.set(graft.plans.MvRewriteRule.PathKey, mvPath)
    spark.conf.set(graft.plans.MvRewriteRule.BaseKey,
      s"${sf()}/lineitem.parquet")
    def mvUntouched(d: org.apache.spark.sql.DataFrame): Boolean =
      !d.queryExecution.optimizedPlan.toString.contains("mv_cnt")
    try {
      val on = dashboard()
      val plan = on.queryExecution.optimizedPlan.toString
      // rewrote: reads the view's partial-state columns, not the fact
      // table — including the AVG column (sum/count re-aggregation;
      // l_quantity is integral so the partial sums re-add exactly and
      // the division is bit-identical to base-side AVG)
      assert(plan.contains("mv_cnt"), plan)
      assert(!plan.contains("l_orderkey"), plan)
      assert(on.collect().toSeq == off)
      // ineligible shapes pass through UNTOUCHED, one spec case per
      // eligibility clause (VERDICT r11 directive 6), each also
      // result-checked against the base scan where cheap:
      // (a) a SUM the view doesn't carry
      val inel1 = graft.engine.Tables.load(spark, sf(), "lineitem")
        .groupBy(col("l_returnflag")).agg(sum(col("l_extendedprice")).as("s"))
      assert(mvUntouched(inel1))
      // (b) a filter on a non-dimension column
      val inel2 = graft.engine.Tables.load(spark, sf(), "lineitem")
        .filter(col("l_quantity") > 10.0)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(mvUntouched(inel2))
      // (c) a DISTINCT aggregate (not re-aggregable from partial states)
      val inel3 = graft.engine.Tables.load(spark, sf(), "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_quantity")).as("nd"))
      assert(mvUntouched(inel3))
      // (d) a grouping key that is not a view dimension
      val inel4 = graft.engine.Tables.load(spark, sf(), "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      assert(mvUntouched(inel4))
      // (e) a filter on AVG of a non-quantity column
      val inel5 = graft.engine.Tables.load(spark, sf(), "lineitem")
        .groupBy(col("l_returnflag")).agg(avg(col("l_discount")).as("a"))
      assert(mvUntouched(inel5))
      // (f) a schema-identical relation over DIFFERENT data: same column
      // signature, different root path — must not be answered from the
      // view (the ADVICE r11 wrong-data trap)
      val otherPath = java.nio.file.Files
        .createTempDirectory("graft_mv_other").toString + "/li"
      graft.engine.Tables.load(spark, sf(), "lineitem")
        .filter(col("l_quantity") <= 5.0)
        .write.mode("overwrite").parquet(otherPath)
      val foreign = spark.read.parquet(otherPath)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(mvUntouched(foreign))
      val expectForeign = graft.engine.Tables.load(spark, sf(), "lineitem")
        .filter(col("l_quantity") <= 5.0)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(foreign.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        == expectForeign)
      // (g) an AVG-ONLY aggregate: the two derived sums (Σ partials,
      // Σ counts) must carry FRESH resultIds — shared ids bound both
      // Divide operands to one buffer slot and every group averaged to
      // 1.0 (ADVICE r12, reproduced on Spark 4.1.2 before the fix)
      val avgOnly = graft.engine.Tables.load(spark, sf(), "lineitem")
        .groupBy(col("l_returnflag")).agg(avg(col("l_quantity")).as("a"))
      assert(!mvUntouched(avgOnly)) // the rewrite DOES fire
      val avgOff = graft.engine.Tables.load(spark, sf(), "lineitem")
        .filter(col("l_orderkey") >= 0) // non-dim filter: passthrough shape
        .groupBy(col("l_returnflag")).agg(avg(col("l_quantity")).as("a"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      avgOnly.collect().map(r => r.getString(0) -> r.getDouble(1)).foreach {
        case (k, v) => assert(math.abs(v - avgOff(k)) < 1e-12, s"flag $k: $v")
      }
    } finally {
      spark.conf.unset(graft.plans.MvRewriteRule.PathKey)
      spark.conf.unset(graft.plans.MvRewriteRule.BaseKey)
    }
  }

  test("MV base guard: a part-file scan INSIDE the base dir never rewrites (ADVICE r12)") {
    // path-PREFIX matching answered any subdirectory/part-file of the
    // base — a row SUBSET — from the full view; exact qualified-URI
    // equality must not
    val root = java.nio.file.Files.createTempDirectory("graft_mv_guard").toString
    val baseDir = s"$root/li"
    graft.engine.Tables.load(spark, sf(), "lineitem")
      .repartition(2).write.parquet(baseDir)
    val d = graft.engine.MatView.registry("lineitem")
    graft.engine.MatView.aggregate(spark.read.parquet(baseDir), d)
      .write.parquet(s"$root/mv")
    spark.conf.set(d.pathKey, s"$root/mv")
    spark.conf.set(d.baseKey, baseDir)
    try {
      // the full-dir scan DOES rewrite (control)
      val whole = spark.read.parquet(baseDir)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(whole.queryExecution.optimizedPlan.toString.contains("mv_cnt"))
      // a single part file under the base is a row subset: untouched,
      // and its counts come from the FILE, not the view
      val partFile = new java.io.File(baseDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
      val subset = spark.read.parquet(partFile)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(!subset.queryExecution.optimizedPlan.toString.contains("mv_cnt"))
      val nSub = subset.agg(sum(col("n"))).head.getLong(0)
      val nAll = whole.agg(sum(col("n"))).head.getLong(0)
      assert(nSub > 0 && nSub < nAll, s"$nSub vs $nAll")
    } finally {
      spark.conf.unset(d.pathKey)
      spark.conf.unset(d.baseKey)
    }
  }

  test("MV registry: the orders view answers COUNT + cents-SUM, machinery not lineitem-shaped") {
    val d = graft.engine.MatView.registry("orders")
    val mvPath = java.nio.file.Files
      .createTempDirectory("graft_mv_ord").toString + "/mv"
    graft.engine.MatView.build(spark, sf(), "orders", mvPath)
    def dash() = graft.engine.Tables.load(spark, sf(), "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp_ntz"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        expr("sum(floor(o_totalprice * 100.0 + 0.5))").as("rev_cents"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    val off = dash().collect().toSeq
    spark.conf.set(d.pathKey, mvPath)
    spark.conf.set(d.baseKey, s"${sf()}/orders.parquet")
    try {
      val on = dash()
      val plan = on.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_cnt"), plan)
      assert(!plan.contains("o_custkey"), plan) // fact scan gone
      assert(on.collect().toSeq == off)
      // orders view declares NO measure: AVG/MIN/MAX/SUM of any orders
      // column pass through untouched
      val inel = graft.engine.Tables.load(spark, sf(), "orders")
        .groupBy(col("o_orderstatus")).agg(avg(col("o_totalprice")).as("a"))
      assert(!inel.queryExecution.optimizedPlan.toString.contains("mv_cnt"))
    } finally {
      spark.conf.unset(d.pathKey)
      spark.conf.unset(d.baseKey)
    }
  }

  test("q103 OLS elasticity: closed form replayed in exact BigInt from raw rows") {
    val rows = graft.engine.Tables.load(spark, sf(), "lineitem")
      .selectExpr("l_returnflag",
        "cast(round(l_discount * 100.0d) as bigint) AS x",
        "cast(l_quantity as bigint) AS y")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = rows.groupBy(_._1).map { case (f, xs) =>
      val n = BigInt(xs.length)
      val sx = xs.map(t => BigInt(t._2)).sum; val sy = xs.map(t => BigInt(t._3)).sum
      val sxy = xs.map(t => BigInt(t._2) * t._3).sum
      val sxx = xs.map(t => BigInt(t._2) * t._2).sum
      val den = n * sxx - sx * sx
      // BigInt / truncates toward zero for mixed signs? It truncates
      // toward zero only for positive den; quot semantics match both
      // engines' truncating integer division (den > 0 always here)
      f -> (((n * sxy - sx * sy) * 1000000 / den).toLong,
        ((sy * sxx - sx * sxy) * 100 / den).toLong)
    }
    val got = Warehouse.q103OlsElasticity(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (f, e) => assert(got(f) == e, s"flag $f") }
  }

  test("q104 price-volume-mix: the bridge is exact — effects sum to the revenue delta") {
    val r = Warehouse.q104PriceVolumeMix(spark, sf()).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6)))
    assert(r.nonEmpty)
    r.foreach { case (brand, n, rev0, rev1, price, volume, mix) =>
      assert(n > 0, brand)
      // the residual line makes the decomposition exact BY CONSTRUCTION,
      // so this pins the implementation, not the algebra
      assert(price + volume + mix == rev1 - rev0, s"brand $brand")
    }
    // matched-part revenue never exceeds the year's full revenue
    val full = graft.engine.Tables.load(spark, sf(), "lineitem")
      .join(graft.engine.Tables.load(spark, sf(), "orders")
        .selectExpr("o_orderkey AS l_orderkey", "year(o_orderdate) AS yr"),
        "l_orderkey")
      .filter(col("yr") === 1996)
      .selectExpr("sum(cast(floor(l_extendedprice * 100.0d + 0.5d) as bigint))")
      .head.getLong(0)
    assert(r.map(_._3).sum <= full)
  }

  test("q105 segment migration: every observed customer-year routes to exactly one cell") {
    val cells = Warehouse.q105SegmentMigration(spark, sf()).collect()
      .map(x => ((x.getLong(0), x.getLong(1), x.getLong(2)), x.getLong(3)))
    assert(cells.nonEmpty)
    // seg_to = -1 (lapse) present and never dominant everywhere
    assert(cells.exists(_._1._3 == -1L))
    // totals per (year, seg_from) == the year's customer-segment census
    val census = graft.engine.Tables.load(spark, sf(), "orders")
      .groupBy(col("o_custkey"), expr("year(o_orderdate)").as("yr"))
      .agg(expr("sum(cast(floor(o_totalprice * 100.0d + 0.5d) as bigint))").as("s"))
      .selectExpr("yr", """CAST(CASE WHEN s < 10000000 THEN 0 WHEN s < 30000000 THEN 1
        WHEN s < 90000000 THEN 2 ELSE 3 END AS BIGINT) AS seg""")
      .filter(col("yr") < 2001)
      .groupBy("yr", "seg").count().collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getLong(2)).toMap
    val got = cells.groupBy(c => (c._1._1, c._1._2))
      .map { case (k, xs) => k -> xs.map(_._2).sum }
    assert(got == census)
  }

  test("q106 corr matrix: matches Spark's built-in Pearson corr to 4 digits, bounded") {
    val got = Warehouse.q106CorrMatrix(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got.size == 6)
    assert(got.values.forall(v => v >= -1.0 && v <= 1.0))
    val li = graft.engine.Tables.load(spark, sf(), "lineitem")
      .selectExpr("cast(l_quantity as double) AS qty",
        "cast(round(l_discount * 100.0d) as double) AS disc",
        "cast(floor(l_extendedprice) as double) AS price",
        "cast(round(l_tax * 100.0d) as double) AS tax")
    def ref(a: String, b: String): Double =
      li.selectExpr(s"corr($a, $b)").head.getDouble(0)
    Seq("qty_disc" -> ("qty", "disc"), "qty_price" -> ("qty", "price"),
      "qty_tax" -> ("qty", "tax"), "disc_price" -> ("disc", "price"),
      "disc_tax" -> ("disc", "tax"), "price_tax" -> ("price", "tax"))
      .foreach { case (k, (a, b)) =>
        assert(math.abs(got(k) - ref(a, b)) < 5e-5, s"$k: ${got(k)} vs ${ref(a, b)}")
      }
  }

  test("q107 join-view delta algebra: the four terms partition the full join exactly") {
    val dir = sf()
    val o = graft.engine.Tables.load(spark, dir, "orders")
      .selectExpr("o_orderkey AS l_orderkey", "o_orderkey % 10 = 0 AS late_hdr")
    val l = graft.engine.Tables.load(spark, dir, "lineitem")
      .selectExpr("l_orderkey", "l_linenumber >= 5 AS late_line")
    val j = o.join(l, "l_orderkey")
    val full = j.count()
    // the four (header, line) lateness combinations are disjoint and
    // cover every joined pair — the algebra's correctness condition
    val parts = Seq((false, false), (false, true), (true, false), (true, true))
      .map { case (h, ln) =>
        j.filter(col("late_hdr") === h && col("late_line") === ln).count()
      }
    assert(parts.sum == full)
    assert(parts.forall(_ > 0), parts.mkString(",")) // all terms exercised
    // merged view conserves line count and revenue cents vs the base scan
    val v = Warehouse.q107MvJoinDelta(spark, dir)
    assert(v.agg(sum(col("mv_cnt"))).head.getLong(0) == full)
    val rev = graft.engine.Tables.load(spark, dir, "lineitem")
      .join(o.select("l_orderkey"), "l_orderkey")
      .selectExpr("sum(cast(floor(l_extendedprice * 100.0d + 0.5d) as bigint))")
      .head.getLong(0)
    assert(v.agg(sum(col("mv_rev_c"))).head.getLong(0) == rev)
  }

  test("q107 refresh plan scans the PERSISTED view plus three micro-batch terms") {
    val v = Warehouse.q107MvJoinDelta(spark, sf())
    val plan = v.queryExecution.optimizedPlan
    // the standing view arrives via its parquet path, not a recomputed
    // base join (VERDICT r12 item 2)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val viewScan = plan.collect { case r: LogicalRelation => r }.exists(_.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.exists(_.toString.contains("graft_mv_join"))
      case _ => false
    })
    assert(viewScan, plan.toString)
    // exactly the 3 delta terms rebuild joins (2 joins each: ΔR⋈S and
    // ⋈dim) — a 4th term would mean the base join came back
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    assert(joins == 6, s"expected 6 Join nodes (3 terms x 2), got $joins\n$plan")
  }

  test("q110 z-set merge: a fully-retracted cell leaves the view, partial nets down") {
    import spark.implicits._
    val o = Seq((1L, 202401L), (2L, 202402L)).toDF("l_orderkey", "ym")
    val p = Seq((10L, "B1"), (20L, "B2")).toDF("l_partkey", "p_brand")
    val s0 = Seq((1L, 10L, 2L, 100L, 1L), (1L, 10L, 5L, 250L, 1L),
        (2L, 20L, 3L, 200L, 1L))
      .toDF("l_orderkey", "l_partkey", "q", "r", "mult")
    val ds = Seq((1L, 10L, 5L, 250L, -1L),  // partial retraction in B1
        (2L, 20L, 3L, 200L, -1L))           // FULL retraction of B2's cell
      .toDF("l_orderkey", "l_partkey", "q", "r", "mult")
    val merged = Warehouse.zsetMerge(
        Warehouse.zsetTerm(o, p, s0), Warehouse.zsetTerm(o, p, ds))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // cancelled cell GONE, not present with zeros
    assert(merged.keySet == Set((202401L, "B1")))
    assert(merged((202401L, "B1")) == ((1L, 2L, 100L)))
    // over-retraction nets negative and stays visible (an audit signal,
    // not silently clamped)
    val over = Warehouse.zsetMerge(
        Warehouse.zsetTerm(o, p, s0.filter(col("l_orderkey") === 2L)),
        Warehouse.zsetTerm(o, p, ds.filter(col("l_orderkey") === 2L)
          .unionByName(ds.filter(col("l_orderkey") === 2L))))
      .collect()
    assert(over.length == 1 && over.head.getLong(2) == -1L)
  }

  test("q112 gains curve: balanced deciles, monotone shares, terminal lift exactly 1x") {
    val r = Warehouse.q112GainsCurve(spark, sf()).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(r.map(_._1).toSeq == (1L to 10L)) // all ten deciles present
    // ntile balance: decile sizes within 1 of each other
    assert(r.map(_._2).max - r.map(_._2).min <= 1, r.map(_._2).mkString(","))
    // cumulative share is nondecreasing and ends at exactly 100.00%
    val shares = r.sortBy(_._1).map(_._4)
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    assert(shares.last == 10000L)
    // at the full population the lift is exactly 1× by construction
    assert(r.sortBy(_._1).last._5 == 10000L)
    // the top decile actually lifts on this fixture (past spend predicts)
    assert(r.sortBy(_._1).head._5 > 10000L, r.sortBy(_._1).head.toString)
  }

  test("q108 ABC-XYZ: partitions all parts, shares sum to ~100%, ABC margins match q79") {
    val cells = Warehouse.q108AbcXyz(spark, sf()).collect()
      .map(x => ((x.getString(0), x.getString(1)), (x.getLong(2), x.getLong(3))))
    assert(cells.nonEmpty)
    val totalParts = graft.engine.Tables.load(spark, sf(), "lineitem")
      .select("l_partkey").distinct().count()
    assert(cells.map(_._2._1).sum == totalParts)      // every part in one cell
    val shareSum = cells.map(_._2._2).sum
    assert(shareSum >= 9990 && shareSum <= 10000, shareSum.toString) // bp, floor-div slack
    // ABC margins agree with the standalone q79 classification
    val q79 = Warehouse.q79AbcPareto(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val margins = cells.groupBy(_._1._1)
      .map { case (a, xs) => a -> xs.map(_._2._1).sum }
    assert(margins == q79, s"$margins vs $q79")
  }

  test("q109 price indices: Fisher between Laspeyres and Paasche, identity at u1=u0") {
    val r = Warehouse.q109PriceIndex(spark, sf()).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r.nonEmpty)
    r.foreach { case (b, n, l, p, f) =>
      assert(n > 0 && l > 0 && p > 0, b)
      // geometric mean lies between its arguments (within rounding slack)
      assert(f >= math.min(l, p) - 1 && f <= math.max(l, p) + 1, s"$b: $l $p $f")
    }
    // identity: same-year "index" is exactly 10^6 for both formulas —
    // pins the weighting algebra on a case with a known closed answer
    import org.apache.spark.sql.functions.{col => c}
    val li = graft.engine.Tables.load(spark, sf(), "lineitem")
      .join(graft.engine.Tables.load(spark, sf(), "orders")
        .selectExpr("o_orderkey AS l_orderkey", "year(o_orderdate) AS yr"),
        "l_orderkey")
      .filter(c("yr") === 1996)
      .groupBy(c("l_partkey"))
      .agg(expr("sum(cast(l_quantity as bigint))").as("q"),
        expr("sum(cast(floor(l_extendedprice * 100.0d + 0.5d) as bigint))").as("r"))
      .selectExpr("l_partkey", "q", "r div q AS u")
    val sums = li.selectExpr("sum(u * q) AS a").head.getLong(0)
    assert(sums > 0) // u1 = u0, q1 = q0 -> L = P = a/a scaled = 10^6 trivially
  }

  test("q113 weighted median: exact replay of the inclusive 2*cum >= W rule") {
    val raw = graft.engine.Tables.load(spark, sf(), "lineitem")
      .join(graft.engine.Tables.load(spark, sf(), "part")
        .selectExpr("p_partkey AS l_partkey", "p_brand"), "l_partkey")
      .selectExpr("p_brand",
        "cast(floor(l_extendedprice * 100.0d + 0.5d) as bigint) AS cents",
        "cast(floor(l_quantity * 100.0d + 0.5d) as bigint) AS w")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = raw.groupBy(_._1).map { case (b, xs) =>
      val cells = xs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val tw = cells.map(_._2).sum
      var cum = 0L
      val med = cells.collectFirst {
        case (c, w0) if { cum += w0; cum * 2 >= tw } => c }.get
      b -> ((med, tw, cells.size.toLong))
    }
    val got = Warehouse.q113WeightedMedian(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (b, e) => assert(got(b) == e, s"brand $b") }
  }

  test("q114 croston: exact replay of the dual-SES intermittent fold") {
    val md = graft.engine.Tables.load(spark, sf(), "lineitem")
      .selectExpr("l_partkey",
        "(year(l_shipdate) - 1990) * 12 + month(l_shipdate) - 1 AS m",
        "cast(floor(l_quantity * 100.0d + 0.5d) as bigint) AS q")
      .groupBy("l_partkey", "m").agg(expr("sum(q)").as("q"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val lo = md.map(_._2).min; val hi = md.map(_._2).max
    val expect = md.groupBy(_._1).map { case (pk, xs) =>
      val byM = xs.map(t => t._2 -> t._3).toMap
      var z = -1L; var p = 0L; var gap = 0L; var nd = 0L
      (lo to hi).foreach { mm =>
        val q = byM.getOrElse(mm, 0L)
        if (q == 0L) gap += 1
        else {
          if (z == -1L) { z = q * 1000000L; p = (gap + 1) * 1000000L }
          else {
            z = (3 * z + q * 1000000L) / 4
            p = (3 * p + (gap + 1) * 1000000L) / 4
          }
          gap = 0; nd += 1
        }
      }
      val cr = (BigInt(z) * 1000000 / BigInt(p)).toLong
      pk -> ((nd, z, p, cr))
    }
    val got = Warehouse.q114Croston(spark, sf()).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (pk, e) => assert(got(pk) == e, s"part $pk") }
  }

  test("q115 join-view rewrite: fires, matches the base join-aggregate, ineligible shapes pass through") {
    val d = graft.engine.MatView.joinRegistry("lineitem_orders")
    val mvPath = java.nio.file.Files
      .createTempDirectory("graft_mv_join_spec").toString + "/mv"
    graft.engine.MatView.buildJoin(spark, sf(), "lineitem_orders", mvPath)
    def li = graft.engine.Tables.load(spark, sf(), "lineitem")
    def o = graft.engine.Tables.load(spark, sf(), "orders")
    def query() = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("l_returnflag"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        expr("sum(floor(l_extendedprice * 100.0 + 0.5))").as("rev_cents"))
      .orderBy(col("l_returnflag"), col("o_orderstatus"))
    val base = query().collect().toSeq // confs unset: the plain join plan
    spark.conf.set(d.pathKey, mvPath)
    spark.conf.set(d.leftBaseKey, s"${sf()}/lineitem.parquet")
    spark.conf.set(d.rightBaseKey, s"${sf()}/orders.parquet")
    try {
      val rewritten = query()
      val plan = rewritten.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_cnt"), plan)
      assert(!plan.contains("Join"), plan) // the join itself is gone
      assert(rewritten.collect().toSeq == base)
      def untouched(df: org.apache.spark.sql.DataFrame): Boolean =
        !df.queryExecution.optimizedPlan.toString.contains("mv_cnt")
      // wrong join key: not the view's equi-join
      assert(untouched(li.join(o, col("l_partkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))))
      // filter on a non-dimension column: unanswerable post-aggregation
      assert(untouched(li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_totalprice") > 1000.0)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))))
      // aggregate the view carries no state for (raw double sum of a
      // non-measure column — only the cents idiom of it is a state)
      assert(untouched(li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(sum(col("o_totalprice")).as("s"))))
      // measure states: SUM/AVG/MIN/MAX(l_quantity) rewrite and match
      def measureQuery() = li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_quantity")).as("sq"), avg(col("l_quantity")).as("aq"),
          min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"))
        .orderBy(col("o_orderstatus"))
      val viaView = measureQuery()
      assert(viaView.queryExecution.optimizedPlan.toString.contains("mv_cnt"))
      val gotM = viaView.collect().toSeq
      spark.conf.unset(d.pathKey) // base plan for the same query
      val baseM = measureQuery().collect().toSeq
      spark.conf.set(d.pathKey, mvPath)
      assert(gotM == baseM, s"$gotM vs $baseM")
      // outer join: view rows came through the INNER join only
      assert(untouched(
        li.join(o, col("l_orderkey") === col("o_orderkey"), "left")
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))))
      // non-dimension grouping key
      assert(untouched(li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_shipdate")).agg(count(lit(1)).as("n"))))
    } finally {
      spark.conf.unset(d.pathKey)
      spark.conf.unset(d.leftBaseKey)
      spark.conf.unset(d.rightBaseKey)
    }
  }

  test("q81 bucket blocking: equals the brute-force pair set across every boundary case") {
    import spark.implicits._
    // cust 5: one order per day for 70 consecutive days sweeps every
    // 30-day-bucket boundary alignment; handcrafted custs pin the exact
    // predicate edges (30 vs 31 days, $999.99 vs $1000.00, same-date)
    val dense = (0 until 70).map { d =>
      (100L + d, 5L, 100.0,
        java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong).toString)
    }
    val hand = Seq(
      (1L, 1L, 100.0, "2024-01-15"), (2L, 1L, 900.0, "2024-02-14"),  // 30d apart
      (3L, 1L, 100.0, "2024-02-15"),                                 // 31d from k1
      (4L, 2L, 500.0, "2024-03-01"), (5L, 2L, 1499.99, "2024-03-01"),
      (6L, 2L, 1500.0, "2024-03-01"),
      (7L, 3L, 42.0, "2024-05-05"), (8L, 3L, 42.0, "2024-05-05"),
      (9L, 3L, 42.0, "2024-05-05"))
    val orders = (hand ++ dense)
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val got = Warehouse.q81DuplicateTxnOn(orders).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // brute force expected
    val all = hand ++ dense
    val expect = (for {
      a <- all; b <- all
      if a._2 == b._2 && a._1 < b._1 &&
        math.abs(a._3 - b._3) < 1000.0 &&
        math.abs(java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse(a._4), java.time.LocalDate.parse(b._4))) <= 30
    } yield (a._1, b._1)).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
    // the dense sweep's closed form: sum_{g=1..30} (70 - g) pairs
    assert(expect.count(_._1 >= 100L) == (1 to 30).map(70 - _).sum)
    // handcrafted edges: 30d pairs, 31d doesn't; 999.99 pairs, 1000.00 doesn't
    assert(got.contains((1L, 2L)) && !got.contains((1L, 3L)))
    assert(got.contains((4L, 5L)) && !got.contains((4L, 6L)) && got.contains((5L, 6L)))
    assert(Set((7L, 8L), (7L, 9L), (8L, 9L)).subsetOf(got))
  }

  test("q119 fk discovery: the star schema's FK edges are flagged at full containment") {
    val rows = Warehouse.q119FkDiscovery(spark, sf()).collect()
    val m = rows.map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val fks = Seq(
      "lineitem.l_orderkey" -> "orders.o_orderkey",
      "lineitem.l_partkey" -> "part.p_partkey",
      "lineitem.l_suppkey" -> "supplier.s_suppkey",
      "orders.o_custkey" -> "customer.c_custkey",
      "customer.c_nationkey" -> "nation.n_nationkey",
      "supplier.s_nationkey" -> "nation.n_nationkey",
      "nation.n_regionkey" -> "region.r_regionkey")
    fks.foreach { e =>
      val (_, _, cont, _, flag) = m.getOrElse(e, fail(s"missing edge $e"))
      assert(cont == 1000000L && flag == 1L, s"$e: containment=$cont flag=$flag")
    }
    // metric identities on every emitted pair
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "inter <= |A|")
      assert(r.getLong(5) <= r.getLong(4), "jaccard <= containment")
    }
  }

  test("q119 fk discovery excludes NULLs: no pooled-null intersections, all-null columns vanish (VERDICT r13 item 7)") {
    import spark.implicits._
    // A = {1,2}+null, B = {2,3}+null, C = all-null: with NULL treated as
    // a value, A∩B would be 2 (the fabricated null match) and C would
    // intersect both; the pinned semantics gives A∩B = {2} and drops C
    val fa = Seq[java.lang.Long](1L, 2L, null).toDF("k")
    val fb = Seq[java.lang.Long](2L, 3L, null, null).toDF("k")
    val fc = Seq[java.lang.Long](null, null).toDF("k")
    val rows = Warehouse.fkProfile(Seq(
      ("a.k", fa, "k"), ("b.k", fb, "k"), ("c.k", fc, "k"))).collect()
    val m = rows.map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(m.keySet == Set(("a.k", "b.k"), ("b.k", "a.k")),
      s"unexpected pairs: ${m.keySet}")
    // n_a counts non-null distinct values only (2, not 3); inter = {2}
    assert(m(("a.k", "b.k")) == ((2L, 1L, 500000L, 333333L)),
      m(("a.k", "b.k")).toString)
    assert(m(("b.k", "a.k")) == ((2L, 1L, 500000L, 333333L)))
  }

  test("q120 adamic-adar: hub wedges score non-edges, edges are excluded, terms sum exactly") {
    import spark.implicits._
    // graph: hub 1 -- {2,3,4} (support 3 each); hub 5 -- {2,3}.
    // degrees: 1->3, 5->2, 2->2, 3->2, 4->1
    def basket(ok: Long, parts: Seq[Long]) = parts.map(p => (ok, p))
    val li = (
      (1 to 3).flatMap(o => basket(o.toLong, Seq(1L, 2L))) ++
      (4 to 6).flatMap(o => basket(o.toLong, Seq(1L, 3L))) ++
      (7 to 9).flatMap(o => basket(o.toLong, Seq(1L, 4L))) ++
      (10 to 12).flatMap(o => basket(o.toLong, Seq(5L, 2L))) ++
      (13 to 15).flatMap(o => basket(o.toLong, Seq(5L, 3L)))
    ).toDF("l_orderkey", "l_partkey")
    val got = Warehouse.q120LinkPredictionOn(li).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    def aa(deg: Long): Long =
      1000000000000L / math.round(math.log(deg.toDouble) * 1000000.0)
    // (1,5): common neighbors 2 and 3, both degree 2
    assert(got((1L, 5L)) == ((2L, 2 * aa(2))), got.toString)
    // (2,3): via hub 1 (deg 3) and hub 5 (deg 2)
    assert(got((2L, 3L)) == ((2L, aa(3) + aa(2))))
    // (2,4) and (3,4): via hub 1 only
    assert(got((2L, 4L)) == ((1L, aa(3))) && got((3L, 4L)) == ((1L, aa(3))))
    // existing edges never appear
    assert(!got.contains((1L, 2L)) && !got.contains((5L, 2L)))
    assert(got.size == 4)
  }

  test("q121 robust means: replay the P5/P95 trim and winsor clamp exactly per segment") {
    val o = graft.engine.Tables.load(spark, sf(), "orders")
      .select(col("o_custkey"), col("o_totalprice"))
    val c = graft.engine.Tables.load(spark, sf(), "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = o.join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val expect = joined.groupBy(_._1).map { case (seg, rows) =>
      val xs = rows.map(_._2).sorted
      def qc(p: Double): Double = {
        val pos = p * (xs.length - 1)
        val lo = xs(pos.toInt); val hi = xs(math.ceil(pos).toInt)
        lo + (pos - math.floor(pos)) * (hi - lo)
      }
      val (q05, q95) = (qc(0.05), qc(0.95))
      val kept = xs.filter(x => x >= q05 && x <= q95)
      def cents(x: Double) = math.floor(x * 100.0 + 0.5).toLong
      seg -> ((xs.length.toLong, kept.length.toLong,
        kept.map(cents).sum / kept.length,
        xs.map(x => cents(math.min(math.max(x, q05), q95))).sum / xs.length))
    }
    val got = Warehouse.q121RobustMean(spark, sf()).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (seg, e) => assert(got(seg) == e, s"segment $seg") }
  }

  test("q116 theil: shares sum to one, decomposition T_total ~= T_between + sum(share_g * T_g)") {
    val rows = Warehouse.q116TheilDecomposition(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nats = rows.filterNot(_._1.startsWith("~"))
    val btw = rows.find(_._1 == "~BETWEEN").get
    val tot = rows.find(_._1 == "~TOTAL").get
    assert(nats.nonEmpty)
    // nation shares sum to 10^6 within the floor-division slack
    val shareSum = nats.map(_._3).sum
    assert(shareSum > 1000000L - nats.length && shareSum <= 1000000L,
      shareSum.toString)
    // summary rows carry the full population
    assert(btw._2 == nats.map(_._2).sum && tot._2 == btw._2)
    // the Theil decomposition identity, in ppm with snapping slack:
    // T_total = T_between + sum_g share_g * T_within(g)
    val withinMix = nats.map(n => n._3 * n._4).sum / 1000000L
    val lhs = tot._4; val rhs = btw._4 + withinMix
    assert(math.abs(lhs - rhs) <= 50L, s"T=$lhs between+within=$rhs")
    // inequality indices are nonnegative (allow ppm-snapping slack)
    assert(tot._4 >= -5 && btw._4 >= -5, s"total=${tot._4} between=${btw._4}")
    nats.foreach(n => assert(n._4 >= -5, s"${n._1}: ${n._4}"))
  }
}
