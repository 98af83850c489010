package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("exactMedian equals the median aggregate (odd n, even n, skew, constants)") {
    val odd = Seq(5.0, 1.0, 9.0, 3.0, 7.0).toDF("v")
    assert(Stats.exactMedian(odd, "v") == 5.0)
    val even = Seq(4.0, 1.0, 3.0, 2.0).toDF("v")
    assert(Stats.exactMedian(even, "v") == 2.5)
    val const = Seq.fill(10)(42.0).toDF("v")
    assert(Stats.exactMedian(const, "v") == 42.0)
    // heavy concentration in one histogram bucket still resolves exactly
    val skew = (Seq.fill(999)(1.0) ++ Seq(1000.0)).toDF("v")
    assert(Stats.exactMedian(skew, "v") == 1.0)
    assert(Seq.empty[Double].toDF("v").transform(df =>
      { assert(Stats.exactMedian(df, "v").isNaN); df }).count() == 0)
  }

  test("exactMedian matches median() on the real lineitem corpus") {
    val li = Tables.lineitem(spark, sf0001)
    val viaAgg = li.agg(expr("median(l_extendedprice)")).head().getDouble(0)
    val viaPrune = Stats.exactMedian(li, "l_extendedprice")
    assert(math.abs(viaAgg - viaPrune) < 1e-9, s"$viaAgg vs $viaPrune")
  }

  test("exactPercentile matches percentile() for p25/p50/p75 on integral data") {
    val li = Tables.lineitem(spark, sf0001)
    for (p <- Seq(0.25, 0.5, 0.75)) {
      val viaAgg = li.agg(expr(s"percentile(l_quantity, ${p}D)")).head().getDouble(0)
      val viaPrune = Stats.exactPercentile(li, "l_quantity", p)
      // integral values + dyadic p → single exact double on any engine
      assert(viaAgg == viaPrune, s"p=$p: $viaAgg vs $viaPrune")
    }
  }

  test("property: exactPercentile equals the percentile aggregate on random data") {
    // a handful of seeded random shapes (sizes, duplicates, negatives)
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 50 + rng.nextInt(400)
      val base = Seq.fill(n)(math.floor(rng.nextGaussian() * 50) - 10)
      val data = (base ++ base.take(rng.nextInt(n))).toDF("v") // duplicates
      val p = Seq(0.0, 0.1, 0.5, 0.9, 1.0)(trial % 5)
      val viaAgg = data.agg(expr(s"percentile(v, ${p}D)")).head().getDouble(0)
      val viaPrune = Stats.exactPercentile(data, "v", p, buckets = 32, maxCollect = 16)
      assert(viaAgg == viaPrune, s"trial $trial p=$p: $viaAgg vs $viaPrune")
    }
  }

  test("groupedPercentile matches the percentile aggregate per group") {
    val rng = new scala.util.Random(7)
    val rows = Seq.tabulate(4000) { i =>
      val g = s"g${i % 3}"
      val v = g match {
        case "g0" => math.floor(rng.nextGaussian() * 100)
        case "g1" => (i % 97).toDouble
        case _    => 42.0 // fully degenerate group
      }
      (g, v)
    } :+ (("g3", 5.0)) // singleton group
    val df = rows.toDF("g", "v")
    for (p <- Seq(0.1, 0.5, 0.9)) {
      val viaAgg = df.groupBy("g").agg(expr(s"percentile(v, ${p}D)").as("q"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // tiny buckets/maxCollect force several narrowing levels
      val viaPrune = Stats.groupedPercentile(df, "g", "v", p,
        buckets = 16, maxCollect = 8)
      assert(viaPrune.keySet == viaAgg.keySet.map(identity[Any]))
      viaAgg.foreach { case (g, want) =>
        assert(viaPrune(g) == want, s"p=$p group $g: ${viaPrune(g)} vs $want")
      }
    }
  }

  test("NaN and infinities are excluded instead of poisoning the histogram") {
    val df = (Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity) ++
      (1 to 99).map(_.toDouble)).toDF("v")
    // quantiles over the 99 finite values only (no degenerate driver path)
    assert(Stats.exactPercentile(df, "v", 0.5, buckets = 16, maxCollect = 8) == 50.0)
    val g = df.withColumn("g", lit("x"))
    assert(Stats.groupedPercentile(g, "g", "v", 0.5,
      buckets = 16, maxCollect = 8) == Map[Any, Double]("x" -> 50.0))
  }

  test("balanced two-valued data resolves without narrowing (straddle case)") {
    // r1 falls on the last row of the first bucket and r2 on the first row
    // of the last — narrowing would keep the full range forever; the
    // straddle must resolve via the max/min-of-edge-buckets aggregate
    val df = (Seq.fill(1000)(0.0) ++ Seq.fill(1000)(1.0)).toDF("v")
    assert(Stats.exactPercentile(df, "v", 0.5, buckets = 16, maxCollect = 2) == 0.5)
    val g = (Seq.fill(5000)(("g0", 0.0)) ++ Seq.fill(5000)(("g0", 1.0))).toDF("g", "v")
    assert(Stats.groupedPercentile(g, "g", "v", 0.5,
      buckets = 16, maxCollect = 8) == Map[Any, Double]("g0" -> 0.5))
  }

  test("groupedPercentiles: several ps in one loop equal the per-p answers") {
    // the multi-p path (range-shared narrowing, VERDICT r10 #5) must be
    // bit-identical to N independent single-p loops — including ps that
    // fork into different buckets of one group, ps that SHARE a target
    // bucket, and degenerate/singleton groups; tiny buckets/maxCollect
    // drive several levels so child ranges genuinely fork and re-merge
    val rng = new scala.util.Random(11)
    val rows = Seq.tabulate(6000) { i =>
      val g = s"g${i % 3}"
      val v = g match {
        case "g0" => math.floor(rng.nextGaussian() * 100)
        case "g1" => (i % 97).toDouble
        case _    => 42.0
      }
      (g, v)
    } :+ (("g3", 5.0))
    val df = rows.toDF("g", "v")
    val ps = Seq(0.05, 0.1, 0.5, 0.51, 0.9, 0.95)
    val multi = Stats.groupedPercentiles(df, "g", "v", ps,
      buckets = 16, maxCollect = 8)
    ps.foreach { p =>
      val single = Stats.groupedPercentile(df, "g", "v", p,
        buckets = 16, maxCollect = 8)
      single.foreach { case (g, want) =>
        assert(multi((g, p)) == want, s"p=$p group $g: ${multi((g, p))} vs $want")
      }
    }
    // and against the builtin aggregate (exactness, not just self-parity)
    ps.foreach { p =>
      val viaAgg = df.groupBy("g").agg(expr(s"percentile(v, ${p}D)").as("q"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      viaAgg.foreach { case (g, want) =>
        assert(multi((g, p)) == want, s"agg p=$p group $g")
      }
    }
  }

  test("groupedPercentiles: two ps resolving in different buckets of one range") {
    // regression for the pair-collapse bug: a Map.map to (rid, bucket)
    // pairs silently dropped one of two resolve buckets of the same range
    val df = (1 to 1000).map(i => ("g", i.toDouble)).toDF("g", "v")
    val multi = Stats.groupedPercentiles(df, "g", "v", Seq(0.05, 0.95),
      buckets = 16, maxCollect = 100)
    for (p <- Seq(0.05, 0.95)) {
      val want = df.agg(expr(s"percentile(v, ${p}D)")).head().getDouble(0)
      assert(multi(("g", p)) == want, s"p=$p: ${multi(("g", p))} vs $want")
    }
  }

  test("recursive narrowing (tiny maxCollect) returns the same quantiles") {
    // maxCollect=4 forces the histogram to narrow several levels before
    // the final bounded take — must agree with the one-shot answer
    val vs = (1 to 5000).map(i => (i * 37 % 4999) / 7.0).toDF("v")
    for (p <- Seq(0.1, 0.5, 0.9)) {
      val oneShot = Stats.exactPercentile(vs, "v", p)
      val recursed = Stats.exactPercentile(vs, "v", p, buckets = 16, maxCollect = 4)
      assert(oneShot == recursed, s"p=$p: $oneShot vs $recursed")
    }
  }

  test("low-cardinality data: the global and the grouped call run no more jobs than the old global route") {
    // integral values, 37 distinct — under both entry points' HLL threshold
    // (maxCollect / 2), so each group resolves at level 0 through one
    // value-distribution pass after the head aggregate. 7 is the job count
    // of the former dedicated global route (head aggregate, then an
    // ordered groupBy(v).count collect); the grouped loop used to run 10,
    // paying a histogram level and a resolve after its head pass
    val oneGroup = (0 until 5000).map(i => (i % 37).toDouble).toDF("v")
    val grouped = (0 until 6000).map(i => (s"g${i % 3}", (i % 37).toDouble)).toDF("g", "v")
    val ps = Seq(0.25, 0.5, 0.75)
    val global = jobsOf { Stats.exactPercentiles(oneGroup, "v", ps): Unit }
    val perGroup = jobsOf { Stats.groupedPercentiles(grouped, "g", "v", ps): Unit }
    assert(global <= 7, s"exactPercentiles ran $global jobs")
    assert(perGroup <= 7, s"groupedPercentiles ran $perGroup jobs")
  }

  test("property: exactPercentiles equals groupedPercentiles under one constant group") {
    // one loop serves both entry points; the global call is its one-group
    // case. Shapes: random integral data with duplicates, a balanced
    // two-valued straddle, a range below double resolution (the
    // distribution resolve), and a continuous column driven through
    // several narrowing levels (maxCollect = 4)
    val rng = new scala.util.Random(23)
    val ulp = math.ulp(1.0)
    val shapes: Seq[(String, Seq[Double])] = Seq(
      "integral+dups" -> {
        val base = Seq.fill(300 + rng.nextInt(300))(math.floor(rng.nextGaussian() * 50) - 10)
        base ++ base.take(rng.nextInt(base.size))
      },
      "straddle" -> (Seq.fill(500)(0.0) ++ Seq.fill(500)(1.0)),
      "tiny-range" -> Seq.fill(400)(1.0 + rng.nextInt(5) * ulp),
      "continuous" -> Seq.fill(3000)(rng.nextGaussian() * 1000))
    val ps = Seq(0.0, 0.05, 0.25, 0.5, 0.51, 0.9, 1.0)
    for ((shape, vs) <- shapes; (buckets, maxCollect) <- Seq((16, 4), (2048, 1 << 16))) {
      val df: DataFrame = vs.toDF("v")
      val global = Stats.exactPercentiles(df, "v", ps, buckets, maxCollect)
      val grouped = Stats.groupedPercentiles(df.withColumn("g", lit("all")), "g", "v",
        ps, buckets, maxCollect)
      ps.zip(global).foreach { case (p, want) =>
        assert(grouped(("all", p)) == want,
          s"$shape buckets=$buckets maxCollect=$maxCollect p=$p: ${grouped(("all", p))} vs $want")
      }
    }
    assert(Stats.exactPercentiles(Seq.empty[Double].toDF("v"), "v", ps).forall(_.isNaN))
    assert(Stats.exactPercentiles(Seq(Double.NaN).toDF("v"), "v", ps).forall(_.isNaN))
  }

  test("two values packed far below the bucket width separate at the next level") {
    // 0 and 1e-300 share one level-1 bucket with 1000 rows; narrowing to
    // the bucket's nominal bounds took one level per factor of 2048 down
    // to 1e-300 (~90 levels); narrowing to its rows' own [min, max] splits
    // them at level 2
    val df = (Seq.fill(500)(0.0) ++ Seq.fill(500)(1e-300) ++ (1 to 2000).map(_.toDouble))
      .toDF("v")
    for (p <- Seq(0.1, 0.25)) {
      val want = df.agg(expr(s"percentile(v, ${p}D)")).head().getDouble(0)
      var got = Double.NaN
      val jobs = jobsOf { got = Stats.exactPercentile(df, "v", p, maxCollect = 64) }
      assert(got == want, s"p=$p: $got vs $want")
      assert(jobs <= 12, s"p=$p ran $jobs jobs")
    }
  }

  test("a deep narrowing cuts its lineage: the per-level plan stops growing with depth") {
    // powers of two with 2 buckets: every level splits off only the top
    // value, so p = 0.1 narrows ~20 levels. Uncut, level k's histogram
    // plan carries all k earlier joins; cut every LevelsPerCut levels it
    // carries at most that many plus its own
    val df = Seq.tabulate(24)(i => math.pow(2, i)).toDF("v")
    val want = df.agg(expr("percentile(v, 0.1D)")).head().getDouble(0)
    val joins = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val marked = new java.util.concurrent.CountDownLatch(1)
    val id = java.util.UUID.randomUUID().toString
    def joinsIn(p: org.apache.spark.sql.execution.SparkPlanInfo): Int =
      (if (p.nodeName.contains("Join")) 1 else 0) + p.children.map(joinsIn).sum
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            joins.add(joinsIn(s.sparkPlanInfo)): Unit
          case _ =>
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(id))
          marked.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val got = try {
      val got = Stats.exactPercentile(df, "v", 0.1, buckets = 2, maxCollect = 2)
      sc.setJobGroup(id, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      got
    } finally sc.removeSparkListener(listener)
    assert(got == want, s"$got vs $want")
    val perQuery = joins.toArray.map(_.asInstanceOf[Int]).toSeq
    assert(perQuery.count(_ > 0) >= 16, s"only ${perQuery.count(_ > 0)} join queries: $perQuery")
    assert(perQuery.max <= Stats.LevelsPerCut + 1, s"joins per query: $perQuery")
  }
}
