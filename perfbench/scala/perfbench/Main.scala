package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.gaf.AnnotationPipeline

/** One benchmark process: set up (Spark session + warm-up run on a small
  * input of the same shape), then timed runs of the
  * workload for the requested seconds with tracing off, each checked
  * for correctness, then (with --trace 1) one traced run with the
  * stage-prefix pass. Writes every sample as JSON to --out; run.py
  * turns the samples into the reported metrics.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, dataRoot: String, work: String,
                        out: String, scale: Double, pinned: Option[String],
                        cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data-root"), m("work"), m("out"),
      m.getOrElse("scale", "1.0").toDouble, m.get("pinned").filter(_.nonEmpty),
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  /** Inputs for (workload, seed, scale), generated once per checkout;
    * returns where they are and the data lines per GAF file with the
    * planted path shares, as JSON.
    */
  def inputs(spark: SparkSession, a: Args, workload: String, seed: Long,
             scale: Double): (Gen.Inputs, String) = {
    val in = Gen.Inputs(s"${a.dataRoot}/$workload-s$seed-x$scale",
      s"${a.dataRoot}/$workload-base-x$scale", workload)
    def once(dir: String, marker: String)(write: => String): String = {
      val ready = Paths.get(dir, marker)
      if (!Files.exists(ready)) {
        deleteTree(dir)
        val body = write
        Files.write(ready, body.getBytes("UTF-8"))
      }
      new String(Files.readAllBytes(ready), "UTF-8")
    }
    once(in.base, "_READY") {
      Gen.writeBase(spark, workload, scale, in.base)
      if (workload == "weekly_rerun") Workloads.writePriorOutput(spark, in.base)
      ""
    }
    val info = once(in.dir, "_READY.json") {
      val w = Gen.writeSeeded(spark, workload, seed, scale, in.dir)
      Json.obj(
        "lines" -> Json.obj(w.lines.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
        "planted" -> Json.obj(w.planted.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
    }
    (in, info)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.all.contains(a.workload), s"unknown workload ${a.workload}")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val out = mutable.LinkedHashMap.empty[String, String]
    out("workload") = Json.str(a.workload)
    out("seed") = Json.num(a.seed)
    out("scale") = Json.num(a.scale)
    out("cores") = Json.num(a.cores)

    // ---- set-up: process start -> Spark session -> warm-up run on the
    // small single-species input (its generation is not counted)
    val spark = session(a)
    val g0 = System.currentTimeMillis()
    val (warmIn, _) = inputs(spark, a, "warmup", 0L, 1.0)
    var genMs = System.currentTimeMillis() - g0
    Workloads.run(spark, warmIn, s"${a.work}/warm", new Spans)
    deleteTree(s"${a.work}/warm")
    out("setup_s") = Json.num((System.currentTimeMillis() - jvmStart - genMs) / 1000.0)

    // ---- inputs (untimed)
    val g1 = System.currentTimeMillis()
    val (in, info) = inputs(spark, a, a.workload, a.seed, a.scale)
    genMs += System.currentTimeMillis() - g1
    out("inputs") = info
    out("gen_s") = Json.num(genMs / 1000.0)

    // ---- timed runs, tracing off; outputs are checked after the loop so
    // that every timed run follows the same warm-up
    val timed = mutable.ArrayBuffer.empty[(String, Double, Double, Double,
      (Double, Double, Double), scala.util.Try[Workloads.Outcome])]
    val loop0 = System.nanoTime()
    while (timed.isEmpty || (System.nanoTime() - loop0) / 1e9 < a.seconds) {
      val work = s"${a.work}/run-${timed.size}"
      val h0 = Host.mark()
      val c0 = Host.cpuSeconds()
      val gc0 = Host.gcSeconds()
      val t0 = System.nanoTime()
      val res = scala.util.Try(Workloads.run(spark, in, work, new Spans))
      val t1 = System.nanoTime()
      timed += ((work, (t1 - t0) / 1e9, Host.cpuSeconds() - c0,
        Host.gcSeconds() - gc0, Host.between(h0, Host.mark()), res))
    }

    // ---- expectations (untimed; cached with the inputs) and checks
    val e0 = System.currentTimeMillis()
    val expect = Checks.expectCached(spark, in, a.pinned)
    out("expect_s") = Json.num((System.currentTimeMillis() - e0) / 1000.0)
    out("expect") = Json.obj("existing_rows" -> Json.num(expect.existingRows),
      "incoming" -> Json.arr(expect.incoming.map(Json.num(_)): _*),
      "stale_iso" -> Json.num(expect.staleIso),
      "pinned" -> expect.pinned.map(Json.str).getOrElse("null"))
    val runSecs = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val runs = timed.toSeq.map { case (work, secs, cpu, gc, (foreign, l0, l1), res) =>
      val (fails, dg, ops) = res match {
        case scala.util.Success(o) =>
          val (f, d) = scala.util.Try(Checks.run(spark, a.workload,
            s"$work/full_annot", o, expect))
            .recover { case t => (Seq(s"check threw: $t"), "") }.get
          (f, d, opsJson(o))
        case scala.util.Failure(t) => (Seq(s"run threw: $t"), "", "{}")
      }
      deleteTree(work)
      if (fails.isEmpty) runSecs += secs else failed += 1
      Json.obj("run_s" -> Json.num(secs), "cpu_s" -> Json.num(cpu),
        "gc_s" -> Json.num(gc),
        "ok" -> fails.isEmpty.toString,
        "failures" -> Json.arr(fails.map(Json.str): _*),
        "digest" -> Json.str(dg), "ops" -> ops,
        "host" -> Json.obj("foreign_cores" -> Json.num(foreign),
          "load_start" -> Json.num(l0), "load_end" -> Json.num(l1)))
    }
    out("runs") = Json.arr(runs: _*)

    if (a.trace) {
      val (traced, tracedFailed) = tracedRun(spark, a, in, expect, info, runSecs.toSeq)
      out("trace") = traced
      if (tracedFailed) failed += 1
      out("traced_ok") = (!tracedFailed).toString
    }
    out("failed") = Json.num(failed)
    spark.stop()
    Files.write(Paths.get(a.out), Json.obj(out.toSeq: _*).getBytes("UTF-8"))
  }

  def opsJson(o: Workloads.Outcome): String = Json.obj(
    (Seq("insert", "update", "touch", "keep").map(k => k -> Json.num(o.op(k))) ++
      Seq("deleted" -> Json.num(o.deleted),
        "brake_aborted" -> Json.num(o.brakeTrips))): _*)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The traced run: listener on, spans around the program's public
    * entry points, then the stage-prefix pass and the plan-build probe.
    * Returns the trace JSON and whether the traced run failed a check.
    */
  def tracedRun(spark: SparkSession, a: Args, in: Gen.Inputs,
                expect: Checks.Expect, info: String,
                untraced: Seq[Double]): (String, Boolean) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    val spans = new Spans
    sc.addSparkListener(rec)
    try {
      val work = s"${a.work}/traced"
      Recorder.drain(sc); rec.reset()
      val gc0 = Host.gcSeconds()
      val t0 = System.nanoTime()
      val o = spans("run")(Workloads.run(spark, in, work, spans))
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val gcS = Host.gcSeconds() - gc0
      Recorder.drain(sc)
      val run = rec.summary(wallMs, a.cores)
      val (fails, _) = Checks.run(spark, a.workload, s"$work/full_annot", o, expect)

      // stage-prefix pass over freshly opened inputs
      val d = Workloads.dims(spark, in.base)
      val existing = spark.read.parquet(in.existing)
      val species = Workloads.speciesRuns(spark, in, s"$work/prefix", d,
        existing, new Spans)
      val passes = species.map(r => Workloads.prefixPass(spark, r, d, existing,
        rec, a.cores, spans))
      val prefixFails = passes.zip(expect.incoming).collect {
        case ((_, rows, _), want) if rows != want =>
          s"prefix pass incoming $rows != annotate $want"
      }

      // plan build per species, as runAll pays it on fresh inputs
      val d2 = Workloads.dims(spark, in.base)
      val existing2 = spark.read.parquet(in.existing)
      val species2 = Workloads.speciesRuns(spark, in, s"$work/build", d2,
        existing2, new Spans)
      Recorder.drain(sc)
      val jobs0 = rec.jobCount
      val b0 = System.nanoTime()
      species2.foreach(r => spans("gaf.build")(
        AnnotationPipeline.incoming(r.gaf, d2, r.cfg, existing2.columns.toSeq)))
      val buildS = (System.nanoTime() - b0) / 1e9
      Recorder.drain(sc)
      val buildJobs = rec.jobCount - jobs0
      deleteTree(work)

      def steps(n: String) = passes.flatMap(_._1.filter(_.name == n))
      def rows(n: String) = steps(n).map(_.rows).sum.toDouble
      def fill(ns: String*) = ns.map(n => steps(n).map(_.fillS).sum).sum
      def exec(ns: Seq[String], k: String) =
        ns.map(n => steps(n).map(_.exec.getOrElse(k, 0.0)).sum).sum
      def ratio(x: Double, y: Double) = if (y == 0) 0.0 else x / y
      val spine = Seq("qc_term_filters", "match_genes", "build_annotations",
        "qc_and_enrich", "consolidate", "annot_merge")
      val allSteps = "filter_sources" +: spine :+ "merge_sink"
      val execAll = exec(allSteps, "exec.run_s")
      val counts = passes.map(_._3)
      def count(k: String) = counts.map(_.getOrElse(k, 0L)).sum.toDouble
      val linesIn = {
        import scala.jdk.CollectionConverters._
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(info)
          .get("lines").elements().asScala.map(_.asDouble).sum
      }
      val tracedS = wallMs / 1000.0
      val m = mutable.LinkedHashMap[String, Double](
        "sources.lines_in" -> linesIn,
        "sources.lines_kept" -> rows("filter_sources"),
        "sources.demux_s" -> spans.seconds("sources.demux"),
        "sources.scan_s" -> fill("filter_sources"),
        "gaf.build_s" -> buildS,
        "gaf.build_jobs" -> buildJobs.toDouble,
        "gaf.qc_kept_ratio" -> ratio(rows("qc_term_filters"), rows("filter_sources")),
        "gaf.match_ratio" -> ratio(rows("match_genes"), rows("qc_term_filters")),
        "gaf.iso_fanout" -> ratio(rows("build_annotations"), rows("match_genes")),
        "gaf.spine_exec_s" -> fill(spine: _*),
        "operators.consolidate_s" -> fill("consolidate"),
        "operators.consolidate_ratio" -> ratio(rows("consolidate"), rows("qc_and_enrich")),
        "operators.fragment_rows" -> (rows("consolidate") - count("consolidate_groups")),
        "operators.annot_merge_s" -> fill("annot_merge"),
        "operators.overflow_rows" -> count("overflow_rows"),
        "operators.merge_sink_s" -> fill("merge_sink"),
        "operators.merge_sink_shuffle_mb" -> exec(Seq("merge_sink"), "exec.shuffle_write_mb"),
        "operators.merge_sink_spill_mb" -> exec(Seq("merge_sink"), "exec.spill_mb"),
        "operators.merge.insert" -> o.op("insert").toDouble,
        "operators.merge.update" -> o.op("update").toDouble,
        "operators.merge.touch" -> o.op("touch").toDouble,
        "operators.merge.keep" -> o.op("keep").toDouble,
        "operators.merge.deleted" -> o.deleted.toDouble,
        "operators.merge.brake_aborted" -> o.brakeTrips.toDouble,
        "prefix.sources_exec_share" -> ratio(exec(Seq("filter_sources"), "exec.run_s"), execAll),
        "prefix.spine_exec_share" -> ratio(exec(spine, "exec.run_s"), execAll),
        "prefix.merge_sink_exec_share" -> ratio(exec(Seq("merge_sink"), "exec.run_s"), execAll),
        "exec.gc_s" -> gcS,
        "exec.driver_only_share" -> ratio(run("exec.driver_only_s"), tracedS),
        "trace.run_s" -> tracedS,
        "peak_rss_mb" -> Host.peakRssMb(),
        "trace.overhead_s" -> (tracedS - median(untraced)))
      m ++= run
      val fails2 = fails ++ prefixFails
      val json = Json.obj(
        "metrics" -> Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
        "failures" -> Json.arr(fails2.map(Json.str): _*),
        "prefix" -> Json.arr(passes.flatMap(_._1).map(s => Json.obj(
          "name" -> Json.str(s.name), "build_s" -> Json.num(s.buildS),
          "fill_s" -> Json.num(s.fillS), "rows" -> Json.num(s.rows),
          "exec_run_s" -> Json.num(s.exec.getOrElse("exec.run_s", 0.0)),
          "shuffle_write_mb" -> Json.num(s.exec.getOrElse("exec.shuffle_write_mb", 0.0)))): _*),
        "spans" -> spans.toJson)
      (json, fails2.nonEmpty)
    } finally sc.removeSparkListener(rec)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: String*): String = xs.mkString("[", ",", "]")
}
