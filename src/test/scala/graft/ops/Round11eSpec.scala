package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Invariants for the q301-q306 batch: peeling monotonicity, the SymSpell
  * completeness theorem checked against brute force, leakage-free encoding
  * re-derived by per-fold anti-join, the additive decomposition identity,
  * blob-store/tabular reconciliation, and the PPS boundary-count bound. */
class Round11eSpec extends SparkSpec {
  import spark.implicits._

  test("q301: peeling is monotone and each round's census is conserved") {
    val rows = GraphQueries.kcoreCensus(spark, sf0001)
      .orderBy($"round").collect()
    assert(rows.length == 3)
    val kept = rows.map(_.getAs[Long]("n_kept"))
    val edges = rows.map(_.getAs[Long]("n_edges"))
    assert(kept.zip(kept.tail).forall { case (a, b) => b <= a },
      "survivor count never grows")
    assert(edges.zip(edges.tail).forall { case (a, b) => b <= a },
      "edge count never grows")
    // round r's (kept + removed) = vertices entering round r; for r ≥ 2
    // that is at most the previous round's survivor count (isolated
    // survivors vanish from the edge list between rounds)
    rows.sliding(2).foreach { case Array(prev, cur) =>
      val entering = cur.getAs[Long]("n_kept") + cur.getAs[Long]("n_removed")
      assert(entering <= prev.getAs[Long]("n_kept"))
    }
  }

  test("q302: deletion-neighborhood blocking is COMPLETE for distance 1") {
    // brute force: all customer-name pairs within levenshtein 1
    val names = graft.Tables.customer(spark, sf0001)
      .select($"c_name".as("name"))
    val brute = names.as("a").crossJoin(names.as("b"))
      .filter($"a.name" < $"b.name" &&
        levenshtein($"a.name", $"b.name") <= 1)
      .count()
    // census side: Σ n_neighbors · n_customers counts each pair twice
    val census = PipelineQueries.symspellLinkage(spark, sf0001).collect()
    val endpointSum = census
      .map(r => r.getAs[Long]("n_neighbors") * r.getAs[Long]("n_customers"))
      .sum
    assert(endpointSum == 2 * brute,
      s"blocking missed pairs: endpoints $endpointSum vs brute $brute")
    assert(brute > 0, "corpus has distance-1 pairs (else the gate is vacuous)")
  }

  test("q302 core: blocking finds insert/delete pairs too, on a seeded " +
      "mixed-length vocabulary (brute-force equivalence)") {
    // seeded pseudo-random short strings over a 4-letter alphabet: dense
    // enough that all three edit kinds (substitution, insert, delete)
    // occur between vocabulary members
    val rnd = new scala.util.Random(42)
    val vocab = (1 to 120).map { _ =>
      val len = 3 + rnd.nextInt(4)
      (1 to len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    }.distinct
    val names = vocab.toDF("name")
    val census = PipelineQueries.symspellCensus(names).collect()
      .map(r => r.getAs[Long]("n_neighbors") -> r.getAs[Long]("n_customers"))
      .toMap
    // brute force, including cross-length (insert/delete) pairs
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val pairs = for {
      a <- vocab; b <- vocab if a < b && lev(a, b) <= 1
    } yield (a, b)
    assert(pairs.nonEmpty, "the seeded vocab must contain distance-1 pairs")
    assert(pairs.exists { case (a, b) => a.length != b.length },
      "the seeded vocab must contain CROSS-LENGTH (insert/delete) pairs")
    val expected = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(census == expected,
      s"census $census != brute-force $expected")
  }

  test("q303: encoding equals the brute-force complement mean per cell") {
    val enc = PipelineQueries.oofTargetEncoding(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getAs[Long]("fold")) ->
        r.getAs[Long]("oof_enc_cents")).toMap
    val o = graft.Tables.orders(spark, sf0001).select(
      $"o_custkey",
      ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long").as("cents"),
      (conv(substring(md5(concat(lit("oof:"), $"o_orderkey".cast("string"))),
        1, 8), 16, 10).cast("long") % 5).as("fold"))
    val c = graft.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_mktsegment".as("segment"))
    val j = o.join(c, $"o_custkey" === $"c_custkey")
      .select($"segment", $"fold", $"cents").collect()
      .map(r => (r.getString(0), r.getAs[Long]("fold"), r.getAs[Long]("cents")))
    enc.foreach { case ((seg, fold), e) =>
      val others = j.filter(t => t._1 == seg && t._2 != fold)
      val expected =
        if (others.isEmpty) 0L else others.map(_._3).sum / others.length
      assert(e == expected, s"($seg, $fold): $e != $expected")
    }
  }

  test("q304: cnt = trend + seasonal + remainder, exactly, on every row") {
    val rows = EventQueries.seasonalDecomposition(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("cnt") == r.getAs[Long]("trend") +
        r.getAs[Long]("seasonal") + r.getAs[Long]("remainder"))
    }
  }

  test("q305: blob census reconciles with the tabular twin's totals") {
    val census = SourceQueries.binaryFileCensus(spark, sf0001).collect()
    val docs = graft.Tables.documents(spark, sf0001)
    assert(census.map(_.getAs[Long]("n_files")).sum == docs.count())
    val expectedBytes = docs
      .agg(sum(octet_length($"text"))).as[Long].head()
    assert(census.map(_.getAs[Long]("total_bytes")).sum == expectedBytes)
  }

  test("q307: census matches an independent driver-side lerp replay") {
    val census = EventQueries.linearInterpolationResample(spark, sf0001)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("n_observed"),
          r.getAs[Long]("series_sum_cents"))).toMap
    // independent replay: last-of-day obs per user, exact Long lerp
    val obs = graft.Tables.events(spark, sf0001)
      .filter($"value".isNotNull)
      .select($"user_id", to_date($"ts").as("day"), unix_micros($"ts").as("us"),
        $"event_id",
        ($"value".cast("decimal(14,2)") * 100).cast("long").as("cents"))
      .collect()
      .groupBy(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("day").toLocalDate))
      .map { case ((u, d), rs) =>
        val best = rs.maxBy(r => (r.getAs[Long]("us"), r.getAs[Long]("event_id")))
        (u, d) -> best.getAs[Long]("cents")
      }
    val B = 1000000000L
    obs.keys.map(_._1).toSeq.distinct.foreach { u =>
      val days = obs.keys.filter(_._1 == u).map(_._2).toSeq.sortBy(_.toEpochDay)
      val (d0, d1) = (days.head, days.last)
      var sum = 0L; var nDays = 0L; var nObs = 0L
      var d = d0
      while (!d.isAfter(d1)) {
        nDays += 1
        obs.get((u, d)) match {
          case Some(v) => nObs += 1; sum += v
          case None =>
            val pd = days.filter(!_.isAfter(d)).last
            val nd = days.filter(_.isAfter(d)).head
            val (pv, nv) = (obs((u, pd)), obs((u, nd)))
            val span = nd.toEpochDay - pd.toEpochDay
            sum += pv + ((nv - pv) * (d.toEpochDay - pd.toEpochDay) +
              B * span) / span - B
        }
        d = d.plusDays(1)
      }
      assert(census(u) == ((nDays, nObs, sum)), s"user $u diverged")
    }
  }

  test("q308: streaming session_window equals the q138 batch expression") {
    val streamed = EventQueries.streamingSessionWindow(spark, sf0001)
      .collect().map(_.toString).sorted
    val batch = EventQueries.sessionWindowFn(spark, sf0001)
      .select($"user_id", $"session_start", $"session_end_gap",
        $"n_events", $"total_value")
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("q309: octaves partition the vocabulary and the head is rank 1") {
    val rows = TextQueries.zipfAudit(spark, sf0001).collect()
    val vocab = graft.Tables.documents(spark, sf0001)
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("t"))
      .select($"t").distinct().count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == vocab)
    val oct0 = rows.find(_.getAs[Int]("octave") == 0).get
    assert(oct0.getAs[Long]("n_tokens") == 1, "octave 0 is exactly rank 1")
    // mean frequencies never increase with rank octave
    val means = rows.sortBy(_.getAs[Int]("octave")).map(_.getAs[Long]("mean_freq"))
    assert(means.zip(means.tail).forall { case (a, b) => b <= a })
  }

  test("q310: per-pair counts partition the nations present in both years") {
    val rows = ExtendedQueries.simpsonReversal(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_aligned") + r.getAs[Long]("n_reversed") +
        r.getAs[Long]("n_flat") == r.getAs[Long]("n_nations"))
      assert(Set(-1, 0, 1).contains(r.getAs[Int]("gdir")))
    }
  }

  test("q311: weighted patch sums match a scalar replay of the geometry") {
    val rows = MultimodalQueries.patchExtraction(spark, sf0001).collect()
    assert(rows.length ==
      graft.Tables.documents(spark, sf0001).count())
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (w, h) = ((id % 16 + 17).toInt, (id % 8 + 17).toInt)
      val (gx, gy) = (w / 8, h / 8)
      var wr = 0L; var wg = 0L; var wb = 0L
      for (y <- 0 until gy * 8; x <- 0 until gx * 8) {
        val weight = (y / 8) * gx + (x / 8) + 1
        val p = y * w + x
        wr += weight * ((id % 251 + 3 * p) % 256)
        wg += weight * ((id % 251 + 3 * p + 1) % 256)
        wb += weight * ((id % 251 + 3 * p + 2) % 256)
      }
      assert(r.getAs[Long]("n_patches") == gx.toLong * gy)
      assert(r.getAs[Long]("wsum_r") == wr && r.getAs[Long]("wsum_g") == wg &&
        r.getAs[Long]("wsum_b") == wb, s"doc $id patch sums diverged")
    }
  }

  test("q312: multiline CSV census reconciles with the in-memory strings") {
    val census = SourceQueries.csvMultilineRoundtrip(spark, sf0001).collect()
    assert(census.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, sf0001).count())
    val expected = graft.Tables.documents(spark, sf0001)
      .select(concat(regexp_replace(substring($"text", 1, 100), " ", "\n"),
        lit(",\"x")).as("t"))
      .agg(sum(length($"t"))).as[Long].head()
    assert(census.map(_.getAs[Long]("total_len")).sum == expected)
  }

  test("q313: moving median matches a driver replay per type") {
    val got = EventQueries.movingMedian(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Date]("day").toLocalDate) ->
        r.getAs[Long]("med7")).toMap
    assert(got.nonEmpty)
    val daily = graft.Tables.events(spark, sf0001)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Date]("day").toLocalDate) ->
        r.getAs[Long]("cnt")).toMap
    val types = daily.keys.map(_._1).toSeq.distinct
    types.foreach { t =>
      val days = daily.keys.filter(_._1 == t).map(_._2).toSeq.sortBy(_.toEpochDay)
      val (d0, d1) = (days.head, days.last)
      val span = (d0.toEpochDay to d1.toEpochDay).map(java.time.LocalDate.ofEpochDay)
      span.drop(3).dropRight(3).foreach { d =>
        val window = (-3 to 3).map(o => daily.getOrElse((t, d.plusDays(o)), 0L))
        assert(got((t, d)) == window.sorted.apply(3), s"($t, $d) median diverged")
      }
    }
  }

  test("q314: the split touches only the hot cell and conserves vectors") {
    val rows = AnnQueries.ivfCellSplit(spark, sf0001).collect()
    val total = graft.Tables.embeddings(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == total)
    val (children, cold) = rows.partition(_.getAs[Long]("sub") >= 0)
    // seed least(id % 8, 3): cells 0-2 cold, cell 3 hot (5/8 occupancy)
    assert(cold.map(_.getAs[Long]("parent")).toSet == Set(0L, 1L, 2L))
    assert(children.map(_.getAs[Long]("parent")).toSet == Set(3L))
    assert(children.map(_.getAs[Long]("sub")).toSet == Set(0L, 1L))
    children.foreach(r => assert(r.getAs[Long]("n_vectors") > 0,
      "a split child must not be empty"))
  }

  test("q315: allocations sum to the budget and track the weights") {
    val rows = PipelineQueries.neymanAllocation(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("alloc")).sum == 10000L)
    val wtot = rows.map(_.getAs[Long]("w")).sum
    rows.foreach { r =>
      val exact = 10000.0 * r.getAs[Long]("w") / wtot
      val alloc = r.getAs[Long]("alloc")
      assert(math.abs(alloc - exact) < 1.0 + 1e-9,
        s"largest-remainder allocation off by >1: $alloc vs $exact")
    }
  }

  test("q316: the audit sees exactly the planted reachability classes") {
    val rows = SourceQueries.orphanFileAudit(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_entries"), r.getAs[Long]("n_rows"))).toMap
    assert(rows.keySet == Set("published", "staged", "stray"))
    val cust = graft.Tables.customer(spark, sf0001)
    assert(rows("published") == ((1L, cust.count())))
    assert(rows("staged") ==
      ((1L, cust.filter($"c_custkey" % 10 === 0).count())))
    assert(rows("stray")._1 == 1L)
  }

  test("q316: one job counts every root entry's rows") {
    SourceQueries.orphanFileAudit(spark, sf0001): Unit // builds the root
    // a schema-inferring read plus a count per entry ran 6 jobs here
    val jobs = jobsOf(SourceQueries.orphanFileAudit(spark, sf0001): Unit)
    assert(jobs <= 2, s"orphanFileAudit ran $jobs Spark jobs")
  }

  test("q130: pagerank reads no edge file when it passes its adjacency") {
    GraphQueries.pagerank(spark, sf0001): Unit // builds edges + adjacency
    // the degree hop's write and its read-back's schema job; the eager
    // edge-file read the adjacency made useless added a third
    val jobs = jobsOf(GraphQueries.pagerank(spark, sf0001): Unit)
    assert(jobs <= 2, s"pagerank ran $jobs Spark jobs")
  }

  test("q317: assortativity is a valid correlation and matches corr()") {
    val r = GraphQueries.assortativity(spark, sf0001).collect().head
    assert(r.getAs[Long]("n_endpoints") == 2 * r.getAs[Long]("n_edges"))
    val a = r.getAs[Double]("assortativity")
    assert(a >= -1.0 && a <= 1.0)
    // independent replay: Spark's streaming-float corr() over the same
    // degree pairs must land within float noise of the exact-moments value
    val items = graft.Tables.lineitem(spark, sf0001)
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val e = items.select($"o", $"p".as("u"))
      .join(items.select($"o", $"p".as("v")), "o")
      .filter($"u" < $"v").select($"u", $"v").distinct()
    val adj = e.select($"u".as("src"), $"v".as("dst"))
      .unionAll(e.select($"v".as("src"), $"u".as("dst")))
    val deg = adj.groupBy($"src".as("vtx")).agg(count(lit(1)).as("deg"))
    val ref = adj
      .join(deg.select($"vtx".as("src"), $"deg".as("x")), "src")
      .join(deg.select($"vtx".as("dst"), $"deg".as("y")), "dst")
      .agg(corr($"x".cast("double"), $"y".cast("double"))).as[Double].head()
    assert(math.abs(a - ref) < 1e-6, s"exact $a vs corr() $ref")
  }

  test("q318: burstiness report is rank-pinned, guarded, and non-negative") {
    val rows = TextQueries.tokenBurstiness(spark, sf0001).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Int]("rk")).sorted.sameElements(1 to 20))
    val byRank = rows.sortBy(_.getAs[Int]("rk"))
    val fanos = byRank.map(_.getAs[Long]("fano_bp"))
    assert(fanos.zip(fanos.tail).forall { case (a, b) => b <= a })
    rows.foreach { r =>
      assert(r.getAs[Long]("fano_bp") >= 0)
      assert(r.getAs[Long]("k") >= 20)
    }
  }

  test("q319: OOV mass reconciles with the corpus token total") {
    val rows = TextQueries.oovRate(spark, sf0001).collect()
    val total = graft.Tables.documents(spark, sf0001)
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("t"))
      .count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("oov_bp") <= 10000)
    }
  }

  test("q320: every grouping level conserves the full row mass") {
    val rows = ExtendedQueries.cubeSuppression(spark, sf0001).collect()
    assert(rows.length == 8, "3-column cube has exactly 8 grouping levels")
    val total = graft.Tables.orders(spark, sf0001).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("rows_withheld") + r.getAs[Long]("rows_released")
        == total, s"gid ${r.get(0)}: suppressed + released != all rows")
      assert(r.getAs[Long]("n_suppressed") <= r.getAs[Long]("n_cells"))
    }
    // the grand total (all columns aggregated) is a single unsuppressable cell
    val grand = rows.maxBy(_.getAs[Long]("gid"))
    assert(grand.getAs[Long]("n_cells") == 1 &&
      grand.getAs[Long]("rows_released") == total)
  }

  test("q306: boundary-crossing count matches floor(total/step) exactly") {
    val rows = PipelineQueries.ppsSystematicSample(spark, sf0001).collect()
    val selected = rows.map(_.getAs[Long]("n_selected")).sum
    val p = graft.Tables.part(spark, sf0001)
      .select(($"p_retailprice".cast("decimal(14,2)") * 100).cast("long")
        .as("w"))
    val (total, maxW) = p.agg(sum($"w"), max($"w")).as[(Long, Long)].head()
    val step = total / 100
    assert(maxW < step,
      "no item spans a full step at this SF, so crossings are 1:1 with items")
    // cw runs over (0, total]; multiples of step in that range = total/step
    assert(selected == total / step, s"$selected != ${total / step}")
  }
}
