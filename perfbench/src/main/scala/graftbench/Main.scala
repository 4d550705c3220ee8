package graftbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of graft: one client thread, `local[<cores>]`,
  * one seeded workload per run. Prints one line per metric and, last, one
  * JSON object: the end-to-end metrics, or with `--trace 1` the per-layer
  * ones. See perfbench/README.md. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  private val SetupReps = 2

  val AllOps: Seq[String] = Seq("commit_delete", "commit_upsert", "dv_cold",
    "dv_warm", "scan", "pruned_scan", "time_travel", "cdc", "ingest_batch")
  private val ReadOps = Seq("scan", "pruned_scan", "time_travel", "cdc")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val sizes = if (opts.get("--size").contains("tiny")) Sizes.tiny else Sizes.full
    val work = opt("--work")
    val out = opt("--out")
    val plantFault = opts.get("--plant-fault").contains("1")

    val phases = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var phaseStart = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - phaseStart) / 1e9
      phaseStart = now
    }

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.gb", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.gb.warehouse", s"$work/tables")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    val h = new Harness(spark)
    val ctx = Ctx(spark, h, seed, sizes, s"$work/tables", plantFault)
    val wl = Workload(workload, ctx)

    // The first set-up also pays class loading, JIT and Spark code
    // generation; one untimed (but checked) warm-up round on its table
    // warms the op paths. The later set-ups start warm, and the loop runs
    // on the last one's table.
    val setupS = (0 until SetupReps).map { r =>
      if (r > 0) wl.dirs.foreach(d => ctx.fs.delete(new Path(d), true))
      val t0 = System.nanoTime()
      wl.setup(s"${wl.name}_$r")
      val t = (System.nanoTime() - t0) / 1e9
      if (r == 0) wl.round()
      t
    }
    phase("setup")

    var bytesPerLiveRow = 0.0
    h.timed = true
    val timelineLoads = scala.collection.mutable.ArrayBuffer[Double]()
    h.minRounds = if (trace) 2 else 1
    h.deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
    while (!h.expired) {
      // traced rounds follow T U U T, so drift across the loop (a growing
      // timeline or index) weighs on both sides alike
      h.setTracing(trace && Set(0, 3).contains(h.rounds % 4))
      if (h.tracing) {
        val t0 = System.nanoTime()
        wl.dirs.foreach(d => ctx.timeline(d).latestSlices(None))
        timelineLoads += (System.nanoTime() - t0) / 1e9
      }
      wl.round()
      h.rounds += 1
      // after a fixed amount of work, so the figure does not depend on speed
      if (h.rounds == 1) bytesPerLiveRow =
        wl.dirs.map(d => ctx.fs.getContentSummary(new Path(d)).getLength)
          .sum.toDouble / wl.liveRows
    }
    h.setTracing(false)
    h.timed = false
    phase("loop")
    val finalProblems =
      try wl.finalCheck()
      catch { case scala.util.control.NonFatal(e) => Seq(s"threw $e") }
    phase("final_check")

    val failed = h.records.count(!_.ok) + (if (finalProblems.isEmpty) 0 else 1)
    val attempted = h.records.size + 1
    (h.problems ++ finalProblems.map("final check: " + _)).take(20)
      .foreach(p => println(s"check failed: $p"))

    // the gated metrics: the ones every workload has
    def gated(traced: Boolean): Seq[(String, Option[Double], String, Int)] = {
      val recs = h.records.filter(r => r.timed && r.traced == traced).toSeq
      val medians = wl.opMix.map { case (op, n) =>
        (Stats.median(recs.filter(_.op == op).map(_.wallS)), n)
      }
      // a loop that ends mid-round would skew a plain mean towards the ops
      // it happened to reach: the mix is weighed with per-type medians
      val roundS = medians.map { case (m, n) => m * n }.sum
      Seq(
        ("setup_s", Some(Stats.median(setupS)), "s", setupS.size),
        ("ops_per_s", Some(wl.opMix.map(_._2).sum / roundS), "op/s",
          recs.size),
        ("op_p50_geomean_s", Some(Stats.geomean(medians.map(_._1))), "s",
          recs.size),
        ("bytes_per_live_row", Some(bytesPerLiveRow), "B/row", 1))
    }
    def e2e(traced: Boolean) = gated(traced) ++ wl.report(h, traced)
    def show(label: String, ms: Seq[(String, Option[Double], String, Int)]) =
      ms.foreach { case (n, v, u, k) =>
        println(f"$label%-9s $n%-28s ${v.fold("n/a")(x => f"$x%.6f")}%14s $u%-6s n=$k")
      }

    show("e2e", e2e(traced = false) :+
      (("failed_ratio", Some(failed.toDouble / attempted), "ratio", attempted)))
    wl.opTypes.foreach { op =>
      val xs = h.records.filter(r => r.timed && r.op == op)
        .map(r => f"${r.wallS}%.3f${if (r.traced) "t" else ""}")
      println(s"samples   $op ${xs.mkString(",")}")
    }
    println(s"info      workload=$workload seed=$seed rounds=${h.rounds} " +
      s"cores=$cores setup_runs=${setupS.map(s => f"$s%.3f").mkString(",")} " +
      "phases_s=" + phases.map { case (n, t) => f"$n:$t%.1f" }.mkString(","))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) gated(traced = false).collect {
        case (n, Some(v), u, _) => (n, v, u)
      } else {
        show("e2e.trace", e2e(traced = true))
        val layers = perLayer(h, wl, timelineLoads.toSeq)
        layers.foreach { case (n, v, u) => println(f"layer     $n%-44s $v%.6f $u") }
        val f = new java.io.File(out, s"trace_${workload}_seed$seed.json")
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath,
          Spans.toJson(h.spans.toSeq, h.originNs).getBytes("UTF-8"))
        println(s"info      trace spans written to $f")
        layers
      }
    val json = metrics.map { case (n, v, u) =>
      s""""$n":{"value":$v,"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$json}}""")
    spark.stop()
  }

  /** The per-layer metrics, every one for every workload: a layer the
    * workload does not call reads 0. */
  def perLayer(h: Harness, wl: Workload, timelineLoads: Seq[Double])
      : Seq[(String, Double, String)] = {
    def of(op: String) = h.traces.filter(_.op == op).toSeq
    def med(xs: Seq[Double]) = Stats.median(xs)
    def layerS(ts: Seq[OpTrace], l: String) =
      med(ts.map(_.layers.getOrElse(l, 0.0)))
    def extra(ts: Seq[OpTrace], k: String) =
      med(ts.flatMap(_.extra.get(k)))

    val spark = AllOps.flatMap { op =>
      val ts = of(op)
      Seq(
        (s"spark.jobs.$op", med(ts.map(_.jobs.toDouble)), "count"),
        (s"spark.task_busy_s.$op", med(ts.map(_.busyS)), "s"),
        (s"spark.core_util.$op",
          med(ts.map(t => t.busyS / (t.wallS * h.cores))), "ratio"),
        (s"spark.scheduler_wait_s.$op", med(ts.map(_.waitS)), "s"),
        (s"spark.gc_s.$op", med(ts.map(_.gcS)), "s"),
        (s"spark.driver_only_s.$op", med(ts.map(_.driverOnlyS)), "s"))
    }
    val format = AllOps.flatMap { op =>
      val ts = of(op)
      Seq(
        (s"format.listings_per_op.$op", med(ts.map(_.listings.toDouble)),
          "count"),
        (s"format.commit_opens_per_op.$op", med(ts.map(_.opens.toDouble)),
          "count"))
    } :+ (("format.timeline_load_s", med(timelineLoads), "s"))

    val commits = of("commit_delete") ++ of("commit_upsert")
    val write = Seq(
      ("write.commit_s", layerS(commits, "write.commit"), "s"),
      ("write.jobs_per_commit", med(commits.map(_.jobs.toDouble)), "count"),
      ("write.driver_only_s_per_commit", med(commits.map(_.driverOnlyS)), "s"),
      ("write.files_written_per_commit", extra(commits, "files_written"),
        "count"),
      ("write.bytes_written_per_changed_row",
        extra(commits, "bytes_per_changed_row"), "B/row"))

    val cold = of("dv_cold")
    val warm = of("dv_warm")
    val hits = warm.flatMap(_.extra.get("hit"))
    val deleteview = Seq(
      ("deleteview.materialize_s", layerS(cold, "deleteview.toDF"), "s"),
      ("deleteview.validate_s", layerS(warm, "deleteview.toDF"), "s"),
      ("deleteview.serve_s", layerS(warm, "deleteview.serve"), "s"),
      ("deleteview.hit_ratio",
        if (hits.isEmpty) 0.0 else hits.sum / hits.size, "ratio"),
      ("deleteview.jobs_cold", med(cold.map(_.jobs.toDouble)), "count"),
      ("deleteview.jobs_warm", med(warm.map(_.jobs.toDouble)), "count"))

    val read = ReadOps.flatMap { op =>
      val ts = of(op)
      Seq(
        (s"read.plan_s.$op", layerS(ts, "read.plan"), "s"),
        (s"read.exec_s.$op", layerS(ts, "read.exec"), "s"),
        (s"read.input_bytes_per_row_out.$op", med(ts.map(t =>
          t.inputBytes / math.max(1.0, t.extra.getOrElse("rows_out", 0.0)))),
          "B/row"),
        (s"read.shuffle_bytes.$op", med(ts.map(_.shuffleBytes.toDouble)), "B"),
        (s"read.rows_out.$op", extra(ts, "rows_out"), "count"))
    }

    val batches = of("ingest_batch")
    val pipeline = Seq(
      ("pipeline.batch_s", layerS(batches, "pipeline.ingestDedup"), "s"),
      ("pipeline.jobs_per_batch", med(batches.map(_.jobs.toDouble)), "count"),
      ("pipeline.driver_only_s_per_batch", med(batches.map(_.driverOnlyS)),
        "s"),
      ("pipeline.shuffle_bytes_per_doc", med(batches.map(t =>
        t.shuffleBytes / math.max(1.0, t.extra.getOrElse("docs", 0.0)))),
        "B/doc"),
      ("pipeline.max_task_s", med(batches.map(_.maxTaskS)), "s"),
      ("pipeline.task_skew", med(batches.map(t =>
        if (t.medianTaskS > 0) t.maxTaskS / t.medianTaskS else 0.0)), "ratio"),
      ("pipeline.index_input_bytes_per_batch",
        med(batches.map(_.inputBytes.toDouble)), "B"))

    // traced over untraced median latency, per op type of this workload
    val ratios = wl.opTypes.flatMap { op =>
      val t = h.timedRecords(op, traced = true).map(_.wallS)
      val u = h.timedRecords(op, traced = false).map(_.wallS)
      if (t.isEmpty || u.isEmpty) None else Some(med(t) / med(u))
    }
    val traceMetrics = AllOps.map(op =>
      (s"trace.coverage.$op", med(of(op).map(_.coverage)), "ratio")) :+
      (("trace.overhead_ratio",
        if (ratios.isEmpty) 0.0 else Stats.geomean(ratios) - 1, "ratio"))

    spark ++ format ++ write ++ deleteview ++ read ++ pipeline ++ traceMetrics
  }
}
