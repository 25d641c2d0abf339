package graft

import org.apache.spark.sql.functions._

/** Round-9 pins: generational compaction of the streaming dedup band
  * index — probe cost must stay bounded by (one generation + K
  * subdirs) no matter how many batches the stream has run, and the
  * compacted path must stay oracle-equal to the global batch LSH rule.
  */
class Round9OpsSpec extends SparkTestBase {

  test("band-index compaction stays oracle-equal and bounds the probe set") {
    // 6 shards → 6 micro-batches; K=2 → compactions at batches 2 and 4,
    // i.e. MORE staged batches than K, the growth scenario compaction
    // exists for
    val k = 2
    val got = graft.streaming.DocsStreaming
      .streamDedupMinhash(spark, sf(), shards = 6)
    // global batch oracle: drop doc iff a smaller doc_id shares a band
    val bands = graft.sources.Tables.documents(spark, sf())
      .select(col("doc_id"),
        posexplode(graft.functions.HashExpressions
          .minhash_band_keys(col("text"))).as(Seq("band_id", "band_key")))
    val dropped = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id")
          && col("a.band_key") === col("b.band_key")
          && col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id")).distinct()
    val expected = graft.sources.Tables.documents(spark, sf())
      .join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"))
    assert(canon(got) == canon(expected))

    // structural bound: after 6 batches the index holds exactly ONE
    // closed generation and at most K per-batch subdirs newer than it —
    // the folded b0..b3 and the superseded gen2 are gone
    val latest = graft.streaming.EventsStreaming
      .lastTrail("graft_stream_docs_mh_").get.dir.toFile
    val idx = new java.io.File(latest, "index").listFiles().map(_.getName)
    val gens = idx.filter(_.startsWith("gen"))
    val bs = idx.filter(_.startsWith("b")).map(_.drop(1).toLong)
    assert(gens.toSeq == Seq("gen4"),
      s"expected exactly gen4 to survive, got ${idx.toSeq.sorted}")
    assert(bs.length <= k && bs.forall(_ >= 4L),
      s"probe subdirs must be the ≤K batches after the generation, " +
        s"got ${idx.toSeq.sorted}")
  }

  test("PQ ADC distance equals the exact distance to the reconstruction") {
    // With subspaces an orthogonal decomposition of the dims, the ADC
    // table-lookup sum is IDENTICALLY the squared distance from the
    // query to each vector's reconstructed (centroid-per-subspace)
    // vector — an exact integer identity, not an approximation. Pin it
    // by recomputing the distance the slow way through the codebook.
    import graft.operators.Similarity
    val adc = Similarity.topKPqAdc(spark, sf(), topK = 1000)
    val (codes, cb, ex) = Similarity.pqModel(spark, sf())
    val recon = codes.join(
      cb.withColumn("sub", expr("dim div 8").cast("int")),
      Seq("sub", "code"))
      .select(col("vec_id"), col("dim"), col("ci"))
    val direct = ex.filter(col("vec_id") === 0)
      .select(col("dim"), col("vi").as("qvi"))
      .join(recon, "dim")
      .groupBy(col("vec_id"))
      .agg(sum((col("qvi") - col("ci")) * (col("qvi") - col("ci")))
        .as("adc_d2"))
    val n = ex.select(col("vec_id")).distinct().count()
    assert(adc.count() == math.min(1000L, n))
    assert(canon(direct.orderBy(col("adc_d2"), col("vec_id")).limit(1000))
      == canon(adc))
  }

  test("PQ codes are a total per-subspace assignment; audit is exact") {
    import graft.operators.Similarity
    val (codes, _, ex) = Similarity.pqModel(spark, sf())
    val n = ex.select(col("vec_id")).distinct().count()
    // every vector carries exactly one code per subspace
    assert(codes.count() == n * 8)
    assert(codes.groupBy(col("vec_id")).count()
      .filter(col("count") =!= 8).isEmpty)
    val audit = Similarity.pqQuantError(spark, sf()).collect()
    assert(audit.length == 8)
    audit.foreach { r =>
      assert(r.getAs[Long]("n_vecs") == n)
      assert(r.getAs[Long]("codes_used") <= 16L)
      assert(r.getAs[Long]("quant_err") >= 0L)
    }
    // the per-sub error sums to the corpus total reconstruction error
    val total = codes.agg(sum(col("d2"))).head.getLong(0)
    assert(audit.map(_.getAs[Long]("quant_err")).sum == total)
  }

  test("Gram-aggregate covariance is bit-identical to the explode plan") {
    import graft.operators.Similarity
    // one-pass primitive-array accumulator vs the d(d+1)/2-pair
    // hash-aggregate plan: same exact integers, same finishing
    // arithmetic, so equality is exact — not approximate
    val fast = Similarity.embedCov(spark, sf())
    val slow = Similarity.embedCovExploded(spark, sf())
    assert(canon(fast) == canon(slow))
    assert(fast.count() == 64L * 65L / 2L)
    // and the plan truly aggregates: ONE aggregate over vectors, no
    // pair-row explode before the exchange
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("flatten("),
      s"gram path must not explode dim pairs pre-aggregate:\n$plan")
  }

  test("JL projection is shuffle-free and concentrates the norm ratio") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.Similarity
    val df = Similarity.jlProjection(spark, sf())
    // a narrow per-row transform: the 100 TB shape is ZERO exchanges.
    // The ONE allowed exception is the source's small-file spread
    // (Tables.spread — round-robin, fires only when the scan
    // under-splits, a passthrough at scale); any KEY exchange means the
    // operator itself started shuffling.
    val shuffles = df.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.size <= 1 && shuffles.forall(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]),
      s"JL projection must add no exchange beyond the source spread:\n" +
        s"${df.queryExecution.executedPlan}")
    // JL lemma: E[‖Px‖²] = outDims·‖x‖² — the per-corpus mean ratio
    // lands near 1 even at 16 output dims (loose band: ±50%)
    val Seq(mean, sd) = {
      val r = df.agg(avg(col("norm_ratio")), stddev(col("norm_ratio"))).head
      Seq(r.getDouble(0), r.getDouble(1))
    }
    assert(mean > 0.5 && mean < 1.5, s"mean JL norm ratio $mean")
    // The mean alone can't see a degenerate matrix: a rank-1 sign
    // matrix (e.g. any (a·i + b·j) % 2 parity with odd a, b) still
    // averages ~1 but its per-vector ratio is ‖x‖₊²-distributed with
    // std ≈ 1.25; a full-rank ±1 matrix concentrates like χ²(outDims)
    // (std ≈ √(2/16) ≈ 0.35). Gate well between the two regimes.
    assert(sd < 0.75, s"JL norm-ratio std $sd — sign matrix degenerate?")
    // And the matrix itself must be balanced row-by-row: a parity
    // formula gives rows of strictly alternating signs (|sum| = 0 but
    // perfect inter-row correlation); check no two rows are equal or
    // opposite.
    val signs = Similarity.jlSigns()
    val rows = signs.grouped(64).toSeq
    for (a <- rows.indices; b <- rows.indices if a < b) {
      assert(rows(a) != rows(b), s"JL rows $a,$b identical")
      val flipped = rows(b).map(c => if (c == '+') '-' else '+')
      assert(rows(a) != flipped, s"JL rows $a,$b opposite")
    }
  }

  test("CUPED: rho2 is a variance fraction, arms partition the users") {
    import graft.operators.Analytics
    val r = Analytics.cuped(spark, sf()).head()
    val users = graft.sources.Tables.events(spark, sf())
      .select(countDistinct(col("user_id"))).head.getLong(0)
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == users)
    val rho2 = r.getAs[Double]("rho2")
    assert(rho2 >= 0.0 && rho2 <= 1.0, s"rho2 $rho2")
    assert(!r.getAs[Double]("theta").isNaN)
    // adjusted lift must equal the adjusted means' difference (rounded)
    val d = BigDecimal(r.getAs[Double]("mean_adj_b") -
      r.getAs[Double]("mean_adj_a")).setScale(5, BigDecimal.RoundingMode.HALF_UP)
    val l = BigDecimal(r.getAs[Double]("adj_lift"))
      .setScale(5, BigDecimal.RoundingMode.HALF_UP)
    assert((d - l).abs <= BigDecimal("0.00001"))
  }

  test("packBlocks: exact corpus prefix sum without a WindowExec") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.operators.DataPrep
    val packed = DataPrep.packBlocks(spark, sf())
    val windows = packed.queryExecution.executedPlan.collect {
      case w: WindowExec => w
    }
    assert(windows.isEmpty,
      s"packing must never form a one-task window:\n${packed.queryExecution.executedPlan}")
    // bit-identical to the window form at test scale
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = graft.sources.Tables.documents(spark, sf())
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.wsTokens(col("text")))
          .cast("long").as("n_toks"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .select(col("doc_id"), col("n_toks"), col("tok_offset"),
        expr("tok_offset div 1024").as("first_block"),
        expr("(tok_offset + n_toks - 1) div 1024").as("last_block"))
      .withColumn("n_blocks", col("last_block") - col("first_block") + 1)
      .withColumn("is_split", (col("n_blocks") > 1).cast("int"))
    assert(canon(packed) == canon(expected))
    // blocks tile the token stream: total tokens = last doc's end offset
    val total = packed.agg(max(col("tok_offset") + col("n_toks"))).head.getLong(0)
    val sumToks = packed.agg(sum(col("n_toks"))).head.getLong(0)
    assert(total == sumToks)
  }

  test("ksDrift equals the brute-force per-source KS statistic") {
    import graft.operators.TextAnalysis
    val got = TextAnalysis.ksDrift(spark, sf()).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_s"), r.getAs[Long]("d_num"),
          r.getAs[Long]("v_at_max"), r.getAs[Long]("ks_ppm"))).toMap
    // independent driver-side recomputation (test scale only)
    val lens = graft.sources.Tables.documents(spark, sf())
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = lens.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val all = lens.map(_._2)
    val grid = all.distinct.sorted
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (s, mine) =>
      val rest = lens.filter(_._1 != s).map(_._2)
      val (ns, nr) = (mine.length.toLong, rest.length.toLong)
      val cands = grid.map { v =>
        val cs = mine.count(_ <= v).toLong
        val cr = rest.count(_ <= v).toLong
        (math.abs(cs * nr - cr * ns), v)
      }
      val dNum = cands.map(_._1).max
      val vAt = cands.filter(_._1 == dNum).map(_._2).min
      assert(got(s) == ((ns, dNum, vAt, dNum * 1000000L / (ns * nr))),
        s"KS mismatch for source $s")
    }
  }

  test("psiDrift equals the brute-force per-source PSI") {
    import graft.operators.TextAnalysis
    val got = TextAnalysis.psiDrift(spark, sf()).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_s"), r.getAs[Long]("psi_fp"),
          r.getAs[Long]("n_bins"))).toMap
    val lens = graft.sources.Tables.documents(spark, sf())
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nTot = lens.length.toLong
    // pooled-CDF first-rank binning, ties together
    val byV = lens.map(_._2).groupBy(identity).view
      .mapValues(_.length.toLong).toSeq.sortBy(_._1)
    var run = 0L
    val binOfV = byV.map { case (v, t) =>
      val b = math.min(9L, run * 10L / nTot); run += t; v -> b
    }.toMap
    val binTot = lens.groupBy(l => binOfV(l._2)).view
      .mapValues(_.length.toLong).toMap
    got.foreach { case (s, (nS, psiFp, nBins)) =>
      val mine = lens.filter(_._1 == s)
      assert(nS == mine.length.toLong)
      assert(nBins == binTot.size.toLong)
      val psi = binTot.toSeq.map { case (b, cB) =>
        val cSb = mine.count(l => binOfV(l._2) == b).toLong
        val p = (cSb + 1).toDouble / (nS + 10).toDouble
        val q = (cB - cSb + 1).toDouble / (nTot - nS + 10).toDouble
        math.round((p - q) * math.log(p / q) * 1e6)
      }.sum
      assert(psi == psiFp, s"PSI mismatch for source $s")
      assert(psiFp >= 0L)
    }
  }

  test("cusum closed form equals the sequential Page recursion") {
    import graft.operators.Analytics
    val got = Analytics.cusumChangepoint(spark, sf()).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("s_max"),
          r.getAs[String]("cp_day"))).toMap
    val daily = graft.sources.Tables.events(spark, sf())
      .groupBy(col("event_type"), to_date(col("ts")).cast("string").as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("x")))
    daily.groupBy(_._1).foreach { case (t, rows) =>
      val xs = rows.sortBy(_._2).map(x => (x._2, x._3))
      val n = xs.length.toLong
      val tot = xs.map(_._2).sum
      // the sequential recursion S_t = max(0, S_{t-1}) + d_t, with the
      // changepoint at the earliest day attaining the maximum
      var sPrev = 0L
      val seq = xs.map { case (day, x) =>
        val s = math.max(0L, sPrev) + (n * x - tot)
        sPrev = s
        (day, s)
      }
      val sMax = seq.map(_._2).max
      val cp = seq.filter(_._2 == sMax).map(_._1).min
      assert(got(t) == ((n, sMax, cp)), s"CUSUM mismatch for $t")
    }
  }

  test("vacuum keeps only the gated current generation; reruns restage") {
    import graft.operators.Formats
    val r1 = canon(Formats.vacuumTable(spark, sf()))
    // post-vacuum: the table root holds exactly the current generation
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_vacuum_sf0.001")
    val dirs = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("gen_2"),
      s"only gen_2 must survive the vacuum, got ${dirs.toSeq}")
    assert(new java.io.File(root, "gen_2/_SUCCESS").exists())
    // a second run restages the debris and reproduces the same audit
    assert(canon(Formats.vacuumTable(spark, sf())) == r1)
    val n = graft.sources.Tables.orders(spark, sf()).count()
    val rows = Formats.vacuumTable(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("prior") == n)
    assert(rows("current") < n && rows("uncommitted") < n)
  }

  test("theilSen equals the brute-force pairwise-slope median") {
    import graft.operators.Analytics
    val got = Analytics.theilSen(spark, sf()).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("med_slope_fp"))).toMap
    val daily = graft.sources.Tables.events(spark, sf())
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getAs[Long]("x")))
    val K = 100000000000000L
    daily.groupBy(_._1).foreach { case (tp, rows) =>
      val d0 = rows.map(_._2).min
      val pts = rows.map(r =>
        (java.time.temporal.ChronoUnit.DAYS.between(d0, r._2), r._3))
        .sortBy(_._1)
      val slopes = for {
        i <- pts.indices; j <- pts.indices if pts(i)._1 < pts(j)._1
      } yield {
        val num = pts(j)._2 - pts(i)._2
        val den = pts(j)._1 - pts(i)._1
        ((num * 1000000L + K * den) / den - K, num, den,
          pts(i)._1, pts(j)._1)
      }
      val sorted = slopes.sorted
      val med = sorted((sorted.length + 1) / 2 - 1)
      assert(got(tp) == ((pts.length.toLong, slopes.length.toLong, med._1)),
        s"Theil-Sen mismatch for $tp")
    }
  }

  test("bitmap tiers agree; production query avoids the mixed-agg plan") {
    import graft.functions.BitmapDistinct
    val ev = graft.sources.Tables.events(spark, sf())
      .select(to_date(col("ts")).cast("string").as("day"), col("user_id"))
    // public-Aggregator tier and TypedImperativeAggregate tier compute
    // the identical exact distinct count
    val both = ev.groupBy(col("day"))
      .agg(BitmapDistinct.bitmapDistinct(col("user_id"), 1 << 20).as("pub"),
        BitmapDistinct.bitmapDistinctFast(col("user_id"), 1 << 20).as("tia"),
        countDistinct(col("user_id")).as("exact"))
    assert(both.filter(col("pub") =!= col("exact")
      || col("tia") =!= col("exact")).isEmpty)
    // the production query must keep the bitmap partial at DAY
    // granularity: no aggregate keyed on (day, user) may carry the
    // bitmap function (the mixed distinct/non-distinct rewrite that
    // measured 228 s at sf10)
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val plan = graft.operators.Analytics
      .bitmapDistinctDaily(spark, sf()).queryExecution.executedPlan
    val bad = plan.collect {
      case a: ObjectHashAggregateExec
        if a.groupingExpressions.length > 1 &&
          a.aggregateExpressions.exists(
            _.aggregateFunction.isInstanceOf[
              graft.functions.BitmapDistinctTIA]) => a
    }
    assert(bad.isEmpty,
      s"bitmap partial must group by day only:\n$plan")
  }

  test("lDiversity surfaces only k-anonymous, low-diversity classes") {
    import graft.operators.TextAnalysis
    val r = TextAnalysis.lDiversity(spark, sf())
    assert(r.filter(col("n_docs") < 5 || col("n_langs") >= 3).isEmpty)
    // every surfaced class really has that many docs and languages
    val direct = graft.sources.Tables.documents(spark, sf())
      .groupBy(col("source"), expr("n_chars div 100").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"))
    val joined = r.join(direct, Seq("source", "len_bucket"))
    assert(joined.count() == r.count())
  }

  test("Welch t-test: arms partition users, t opposes lift, means check") {
    import graft.operators.Analytics
    val rows = Analytics.abTest(spark, sf()).collect()
    assert(rows.nonEmpty)
    val users = graft.sources.Tables.events(spark, sf())
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(na + nb == users(r.getAs[String]("event_type")))
      // t = (mean_a - mean_b)/sqrt(+) — its sign must oppose the lift
      val (t, lift) = (r.getAs[Double]("t_stat"), r.getAs[Double]("lift"))
      if (t != 0.0 && lift != 0.0) assert(t.sign == -lift.sign)
    }
  }
}
