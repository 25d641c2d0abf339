package graft

import scala.jdk.CollectionConverters._

/** Ad-hoc dev driver: `sbt "Test/runMain graft.Scratch <op> [sfDir]"`.
  * Times individual operators and prints plans — forked JVM, so it
  * avoids the sbt-console REPL/classloader clash with Spark 4.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    // sized like Bench and Verify (SPARK_GRAFT_CPUS, default 4 here, and
    // SPARK_GRAFT_SHUFFLE)
    val spark = GraftSession.start(
      GraftSession.fromEnv("graft-scratch", Map("SPARK_GRAFT_CPUS" -> "4") ++ sys.env),
      logLevel = "ERROR")
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.01"

    def time(n: String)(f: => Long): Unit = {
      val t0 = System.nanoTime
      val r = f
      println(f"TIME $n rows=$r ${(System.nanoTime - t0) / 1e9}%.2f s")
    }

    args.headOption.getOrElse("all") match {
      case "text" | "all" =>
        time("minhash_bands") { operators.Dedup.minhashBands(spark, d).count() }
        time("minhash_pairs") { operators.Dedup.minhashPairs(spark, d).count() }
        time("simhash") { operators.Dedup.simhash(spark, d).count() }
        time("ngram_jaccard") { operators.Dedup.ngramJaccard(spark, d).count() }
        time("dedup_exact") { operators.Dedup.exact(spark, d).count() }
        time("dedup_near") { operators.Dedup.near(spark, d).count() }
        time("text_stats") { operators.TextAnalysis.textStats(spark, d).count() }
        time("token_count") { operators.TextAnalysis.tokenCount(spark, d).count() }
        time("lang_id") { operators.TextAnalysis.langId(spark, d).count() }
        time("quality") { operators.TextAnalysis.qualityScore(spark, d).count() }
        time("fingerprints") { operators.TextAnalysis.fingerprints(spark, d).count() }
      case "explain" =>
        SparkEntry.queries(args(2))(spark, d).explain("formatted")
      case "final" => // post-execution adaptive plan (reuse is only visible here)
        val df = SparkEntry.queries(args(2))(spark, d)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      case "twsdebug" =>
        val df = graft.streaming.TwsStreaming.timerSessions(spark, d)
        println("rows=" + df.count())
        graft.streaming.EventsStreaming.lastProgressFor("graft_stream_twssess_")
          .foreach { pr =>
            println(s"batch=${pr.batchId} rows=${pr.numInputRows} " +
              s"wm=${pr.eventTime.get("watermark")} " +
              pr.stateOperators.map(so =>
                s"op=${so.operatorName} out=${so.numRowsUpdated} " +
                s"timers=${so.customMetrics}").mkString(" | "))
          }
      case "sql" => // ad-hoc SQL probe: Test/runMain graft.Scratch sql <sfDir> "<stmt>;;<stmt>"
        // (or @/path/to/file.sql to dodge shell quoting)
        val text = if (args(2).startsWith("@"))
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(args(2).drop(1))))
        else args(2)
        text.split(";;").foreach { stmt =>
          println(s"-- $stmt")
          spark.sql(stmt).show(20, truncate = false)
        }
      case "bitmapdebug" =>
        // decompose q_bitmap_distinct: which stage is superlinear?
        import org.apache.spark.sql.functions._
        val ev = sources.Tables.events(spark, d)
          .select(to_date(col("ts")).cast("string").as("day"),
            col("user_id"))
        val maxId = ev.agg(max(col("user_id"))).head().getLong(0)
        val capacity = java.lang.Long.highestOneBit(
          math.max(maxId * 2 + 1, 64L)).toInt * 2
        println(s"maxId=$maxId capacity=$capacity bits " +
          s"(${capacity / 8 / 1024} KiB/buffer)")
        time("scan_only") { ev.count() }
        time("count_distinct") {
          ev.groupBy(col("day"))
            .agg(countDistinct(col("user_id"))).count()
        }
        time("bitmap_fast_tia") {
          ev.groupBy(col("day"))
            .agg(graft.functions.BitmapDistinct
              .bitmapDistinctFast(col("user_id"), capacity)).count()
        }
        time("combined_tia_plus_distinct") {
          ev.groupBy(col("day"))
            .agg(graft.functions.BitmapDistinct
              .bitmapDistinctFast(col("user_id"), capacity),
              countDistinct(col("user_id"))).count()
        }
        val combined = ev.groupBy(col("day"))
          .agg(graft.functions.BitmapDistinct
            .bitmapDistinctFast(col("user_id"), capacity),
            countDistinct(col("user_id")))
        println(combined.queryExecution.executedPlan.toString.take(4000))

      case "paircount" =>
        time("minhash_pairs") { operators.Dedup.minhashPairs(spark, d).count() }
        time("calibration") {
          operators.Dedup.jaccardCalibration(spark, d).count()
        }

      case "plans" =>
        // Test/runMain graft.Scratch plans <sfDir> <outFile> <key>...
        // Per key: schema, row count, the sparkPlan operator multiset and
        // the optimized logical plan, with expression ids and
        // lambda-variable suffixes stripped, so dumps of two builds of
        // the same keys compare with diff.
        def strip(p: String) =
          p.replaceAll("#\\d+L?", "").replaceAll("(lambda \\w+?)_\\d+\\b", "$1")
        val out = new java.io.PrintWriter(args(2), "UTF-8")
        args.drop(3).foreach { key =>
          val df = SparkEntry.queries(key)(spark, d)
          val qe = df.queryExecution
          val ops = qe.sparkPlan.collect { case p => p.nodeName }
            .groupBy(identity).toSeq.sortBy(_._1)
            .map { case (n, ps) => s"$n x${ps.size}" }
          out.println(s"== $key")
          out.print(df.schema.treeString)
          out.println(s"rows ${df.count()}")
          out.println(s"ops ${ops.mkString(", ")}")
          out.println(strip(qe.optimizedPlan.toString))
        }
        out.close()
      case "jobs" =>
        // Test/runMain graft.Scratch jobs <sfDir> <outFile> [key...]
        // Build vs write census: one warm pass over the keys (every key
        // when none are named), then a recorded pass that writes, per key,
        // the jobs started and the wall seconds while the DataFrame is
        // built and while the noop write runs, and the call sites of the
        // build-time jobs. The `#` lines at the end are the totals and the
        // build-time call sites by count.
        val sc = spark.sparkContext
        val sites = java.util.Collections.synchronizedList(
          new java.util.ArrayList[String]())
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            sites.add(e.stageInfos.maxBy(_.stageId).name): Unit
        })
        def span[A](f: => A): (A, Seq[String], Double) = {
          org.apache.spark.ListenerBusDrain.drain(sc)
          sites.clear()
          val t0 = System.nanoTime
          val a = f
          val wall = (System.nanoTime - t0) / 1e9
          org.apache.spark.ListenerBusDrain.drain(sc)
          (a, sites.synchronized(sites.asScala.toList), wall)
        }
        val keys = if (args.length > 3) args.drop(3).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        def pass(k: String) = {
          val (df, bj, bs) = span(SparkEntry.queries(k)(spark, d))
          val (_, wj, ws) = span(df.write.format("noop").mode("overwrite").save())
          (bj, bs, wj.size, ws)
        }
        keys.foreach(pass)
        val rows = keys.map(k => k -> pass(k))
        val out = new java.io.PrintWriter(args(2), "UTF-8")
        out.println("key\tbuild_jobs\tbuild_s\twrite_jobs\twrite_s")
        rows.foreach { case (k, (bj, bs, wj, ws)) =>
          out.println(f"$k\t${bj.size}\t$bs%.3f\t$wj\t$ws%.3f")
        }
        out.println(f"# keys ${rows.size} with-build-jobs ${rows.count(_._2._1.nonEmpty)} " +
          f"build-jobs ${rows.map(_._2._1.size).sum} build-s ${rows.map(_._2._2).sum}%.1f " +
          f"write-jobs ${rows.map(_._2._3).sum} write-s ${rows.map(_._2._4).sum}%.1f")
        rows.flatMap(_._2._1).groupBy(identity).toSeq.sortBy(-_._2.size)
          .foreach { case (site, n) => out.println(s"# site ${n.size} $site") }
        out.close()
      case "sweep" =>
        // plan-shape audit: flag cartesians, count exchanges, check scans
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          if (name.startsWith("q_stream")) println(f"$name%-24s streaming (skipped)")
          else try {
            val plan = fn(spark, d).queryExecution.executedPlan.toString
            val cart = "CartesianProduct".r.findAllIn(plan).length
            val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
            val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
            val scans = "FileScan".r.findAllIn(plan).length
            val sorts = "Sort ".r.findAllIn(plan).length
            // gen counts Generate (explode) nodes: N>1 identical
            // generators in one executed plan = a recompute suspect
            // (the lmScore/winnowPairs round-15 signature)
            val gen = "Generate ".r.findAllIn(plan).length
            println(f"$name%-24s cart=$cart bnlj=$bnlj exch=$ex scans=$scans sorts=$sorts gen=$gen")
          } catch { case e: Throwable =>
            println(f"$name%-24s ERROR ${e.getMessage.take(80)}")
          }
        }
      case "annsweep" =>
        // ANN recall-cost curve: run the REAL operators (topKIvfFrom /
        // topKLsh) over a sample of query vectors and measure recall@k
        // against brute-force ground truth, plus the fraction of the
        // corpus each setting actually scanned. Design evidence for the
        // "ANN survives 100 TB" claim — emits the PLANS.md table.
        import org.apache.spark.sql.functions._
        val emb = sources.Tables.embeddings(spark, d).cache()
        val n = emb.count()
        val k = 10
        val queryIds = emb.select("vec_id").orderBy("vec_id")
          .limit(40).collect().map(_.getLong(0)).filter(_ % 2 == 0).take(20)
        // label/bucket sizes for the fraction-scanned denominator
        val labelSizes = emb.groupBy("label").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        def swapTo0(qid: Long) = emb.withColumn("vec_id",
          when(col("vec_id") === qid, lit(0L))
            .when(col("vec_id") === 0L, lit(qid))
            .otherwise(col("vec_id")))
        def gt(qid: Long): Set[Long] =
          operators.Similarity.topKFrom(swapTo0(qid), k)
            .collect().map(_.getLong(0)).toSet
        val gts = queryIds.map(q => q -> gt(q)).toMap
        println(s"corpus n=$n, ${queryIds.length} queries, k=$k")
        println("| index | setting | mean recall@10 | mean frac scanned |")
        println("|---|---|---|---|")
        // the probe SET (not the labels that happen to appear in the
        // top-k rows) is what the scan pays for: topKIvfFrom's own probe
        def probeSet(qid: Long, nprobe: Int): Seq[Int] =
          operators.Similarity.labelProbe(swapTo0(qid), nprobe)
            .collect().map(_.getInt(0)).toSeq
        for (nprobe <- Seq(1, 2, 3, 5, 10)) {
          val (recalls, fracs) = queryIds.map { qid =>
            val rows = operators.Similarity
              .topKIvfFrom(swapTo0(qid), k, nprobe).collect()
            val ids = rows.map(_.getLong(0)).toSet
            val scanned = probeSet(qid, nprobe)
              .map(labelSizes(_)).sum.toDouble / n
            (gts(qid).count(ids).toDouble / k, scanned)
          }.unzip
          println(f"| IVF | nprobe=$nprobe | ${recalls.sum / recalls.length}%.3f " +
            f"| ${fracs.sum / fracs.length}%.4f |")
        }
        for (planes <- Seq(2, 3, 4, 5, 6)) {
          val bSizes = operators.Similarity.lshBucketsFrom(emb, planes)
            .groupBy("bucket").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          val (recalls, fracs) = queryIds.map { qid =>
            val rows = operators.Similarity
              .topKLshFrom(swapTo0(qid), k, planes).collect()
            val ids = rows.map(_.getLong(0)).toSet
            val bucket = if (rows.nonEmpty) rows.head.getString(1) else ""
            val scanned = bSizes.getOrElse(bucket, 0L).toDouble / n
            (gts(qid).count(ids).toDouble / k, scanned)
          }.unzip
          println(f"| LSH | planes=$planes | ${recalls.sum / recalls.length}%.3f " +
            f"| ${fracs.sum / fracs.length}%.4f |")
        }
        // PQ-ADC: scans EVERY row but touches only m code-bytes per row
        // instead of d×4 float bytes — its cost axis is bytes, not rows,
        // so "frac" here is bytes-touched / raw-corpus-bytes (constant
        // in the codebook size; recall is what the codes buy).
        for (codes <- Seq(8, 16, 32)) {
          val recalls = queryIds.map { qid =>
            val ids = operators.Similarity
              .topKPqAdcFrom(swapTo0(qid), topK = k, m = 8, k = codes)
              .collect().map(_.getLong(0)).toSet
            gts(qid).count(ids).toDouble / k
          }
          val bytesFrac = 8.0 / (64 * 4)
          println(f"| PQ-ADC | m=8,codes=$codes " +
            f"| ${recalls.sum / recalls.length}%.3f | $bytesFrac%.4f (bytes) |")
        }
        // Composed IVF→PQ-ADC→exact-rerank (the production plan): ADC
        // code-bytes are only read inside the probed lists, raw floats
        // only for the rerank rows — bytes-touched =
        // probedRowsFrac × m/(4d) + rerank/n.
        for ((nprobe, rerank) <- Seq((1, 50), (2, 50), (3, 100))) {
          val (recalls, fracs) = queryIds.map { qid =>
            val e = swapTo0(qid)
            val (res, af, cent) = operators.Similarity
              .topKIvfPqFrom(e, k, nprobe = nprobe, rerank = rerank)
            val ids = res.collect().map(_.getLong(0)).toSet
            val sizes = af.groupBy("cid").count().collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toMap
            val probed = operators.Similarity.ivfProbe(e, cent, nprobe)
              .collect().map(_.getLong(0))
            val rowsFrac = probed.map(sizes.getOrElse(_, 0L)).sum.toDouble / n
            val bytesFrac = rowsFrac * 8.0 / (64 * 4) + rerank.toDouble / n
            (gts(qid).count(ids).toDouble / k, bytesFrac)
          }.unzip
          println(f"| IVF+PQ+rerank | nprobe=$nprobe,rerank=$rerank " +
            f"| ${recalls.sum / recalls.length}%.3f " +
            f"| ${fracs.sum / fracs.length}%.4f (bytes) |")
        }
      case q =>
        time(q) { SparkEntry.queries(q)(spark, d).count() }
    }
    spark.stop()
  }
}
