package graft.perfbench

import java.util.Locale

import scala.collection.mutable

/** Benchmark entry point. One run:
  *  1. sets up once, cold: session, a trivial job, seeded inputs and
  *     the workload's warm-up; `setup_s` is the CPU time the process
  *     spent from JVM start to the end of it;
  *  2. runs the workload's untimed check pass, if it has one;
  *  3. runs closed-loop passes from this one thread until `--seconds`
  *     have elapsed (at least one pass); with `--trace 1` the listeners
  *     and spans are on and the run reports per-layer figures instead;
  *  4. checks the outputs the timed passes kept.
  * Every figure is printed as `metric <name> <value> <unit>`; the last
  * stdout line is the JSON result.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> [--expected <dir>] [--record]
  */
object Main {
  /** End-to-end metrics (untraced window), in BENCHMARK.json order. */
  val EndToEnd: Seq[(String, String)] = Seq("pass_cpu_s" -> "s", "setup_s" -> "s")

  /** Per-layer metrics every workload's traced run reports. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.plan_s" -> "s", "spark.actions" -> "count", "spark.broadcast_builds" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_union_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "sources.input_bytes" -> "bytes", "sources.input_rows" -> "count",
    "CacheScope.frames_released" -> "count", "trace.pass_s" -> "s", "trace.pass_cpu_s" -> "s")

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val before = Host.sample()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val record = args.contains("--record")
    val workload = Workload.byName(opts.getOrElse("workload", ""))
      .getOrElse(fail(s"unknown workload; one of ${Workload.all.map(_.name).mkString(", ")}"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts.getOrElse("work", fail("--work <dir> is required"))
    opts.get("expected").foreach(Expected.dir = _)
    val cpus = Runtime.getRuntime.availableProcessors()

    if (record) { Recorder.run(workload, work, cpus); return }

    val t0 = System.nanoTime()
    val spark = Session.create(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM/codegen warm-up
    val prepared = workload.setup(spark, seed, work)
    val w0 = System.nanoTime()
    prepared.warmUp()
    val setupCpuS = Host.processCpuSeconds()
    val t1 = System.nanoTime()

    val checkOps = new Ops(new Tracer)
    val problems = mutable.ArrayBuffer.empty[(String, String)]
    val lines = mutable.ArrayBuffer.empty[(String, Double, String)]
    lines ++= Seq(("setup_s", setupCpuS, "s"), ("setup_wall_s", jvmStart + (t1 - t0) / 1e9, "s"),
      ("warmup_s", (t1 - w0) / 1e9, "s"))
    problems ++= prepared.check(checkOps)

    val tracer = new Tracer
    if (traced) tracer.attach(spark)
    val (ops, passS) = window(prepared, seconds, tracer)
    if (traced) {
      tracer.detach(spark)
      val data = tracer.report()
      // spans kept in memory during the window, written out at the end
      val out = new java.io.File(new java.io.File(work).getParentFile,
        s"traces/${workload.name}-seed$seed.json")
      data.writeJson(out)
      println(s"trace ${out.getPath}")
      lines ++= Layers.generic(data, ops).map { case (k, v, u) => (k, v / ops.passes, u) }
      lines ++= Seq(("trace.pass_s", passS, "s"), ("trace.pass_cpu_s", ops.cpuSeconds / ops.passes, "s"))
      lines ++= prepared.layerFigures(ops, data)
      if (data.spans.exists(s => s.layer == "op" && data.driverGapNs(s.id) < 0))
        problems += "trace" -> "an operation with a negative driver gap"
    } else {
      lines ++= Seq(("pass_s", passS, "s"), ("pass_cpu_s", ops.cpuSeconds / ops.passes, "s"))
      lines ++= prepared.figures(ops)
    }
    problems ++= prepared.problems
    val attempted = checkOps.attempted + ops.attempted
    val failed = checkOps.failed + ops.failed + problems.size

    val after = Host.sample()
    lines += (("peak_rss_mb", Host.peakRssMb(), "MiB"))
    lines ++= Seq(("host.busy_before", before.busy, "ratio"), ("host.busy_after", after.busy, "ratio"),
      ("host.load1_before", before.load1, "load"), ("host.load1_after", after.load1, "load"),
      ("host.cpus", cpus.toDouble, "count"), ("failed_frac", failed.toDouble / attempted, "ratio"))
    Session.stop(spark)

    problems.foreach { case (op, what) => println(s"check-failed $op: $what") }
    ops.samples.foreach { case (n, v) => println(s"op $n ${fmt(v)}") }
    lines.foreach { case (n, v, u) => println(s"metric $n ${fmt(v)} $u") }
    val metrics = (if (traced) PerLayer else EndToEnd).map { case (n, u) =>
      val v = lines.find(_._1 == n).map(_._2).getOrElse(fail(s"metric $n missing"))
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }
    println(s"""{"correct": ${problems.isEmpty && failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
  }

  /** Closed-loop passes until `seconds` have elapsed; returns the ops
    * and the median pass wall time. */
  def window(p: Prepared, seconds: Double, tracer: Tracer): (Ops, Double) = {
    val ops = new Ops(tracer)
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpu0 = Host.processCpuSeconds()
    val start = System.nanoTime()
    tracer.span("window", "workload") {
      while (walls.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
        val t0 = System.nanoTime()
        tracer.span("pass", "workload")(p.pass(ops))
        walls += (System.nanoTime() - t0) / 1e9
      }
    }
    ops.passes = walls.size
    ops.cpuSeconds = Host.processCpuSeconds() - cpu0
    println(s"passes ${walls.map(fmt).mkString(" ")}")
    (ops, Workload.median(walls.toSeq))
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else String.format(Locale.ROOT, "%.9g", Double.box(v)).trim

  def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(2)
  }
}

/** Per-layer figures every workload reports, from one traced window. */
object Layers {
  def generic(d: TraceData, ops: Ops): Seq[(String, Double, String)] = {
    val st = d.stages
    val opSpans = d.spans.filter(_.layer == "op")
    Seq(
      ("spark.plan_s", d.actions.map(_.planNs).sum / 1e9, "s"),
      ("spark.actions", d.actions.size.toDouble, "count"),
      ("spark.broadcast_builds", d.actions.map(_.broadcasts).sum.toDouble, "count"),
      ("spark.jobs", d.jobs.size.toDouble, "count"),
      ("spark.stages", st.size.toDouble, "count"),
      ("spark.tasks", st.map(_.tasks).sum.toDouble, "count"),
      ("spark.job_union_s", Interval.unionLength(d.jobs.map(_.interval)) / 1e9, "s"),
      ("spark.driver_gap_s", opSpans.map(s => d.driverGapNs(s.id)).sum / 1e9, "s"),
      ("spark.executor_run_s", st.map(_.runNs).sum / 1e9, "s"),
      ("spark.executor_cpu_s", st.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.gc_s", st.map(_.gcMs).sum / 1e3, "s"),
      ("spark.shuffle_read_bytes", st.map(_.shuffleRead).sum.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", st.map(_.shuffleWrite).sum.toDouble, "bytes"),
      ("spark.spill_bytes", st.map(_.spill).sum.toDouble, "bytes"),
      ("sources.input_bytes", st.map(_.inputBytes).sum.toDouble, "bytes"),
      ("sources.input_rows", st.map(_.inputRows).sum.toDouble, "count"),
      ("CacheScope.frames_released", ops.framesReleased.toDouble, "count")) ++
      d.spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (l, ss) =>
        (s"self.$l.s", ss.map(s => d.selfNs(s.id)).sum / 1e9, "s")
      }
  }
}

/** `--record`: regenerates the expected outputs in `perfbench/expected`.
  * Headline fingerprints are taken from results re-read from parquet
  * dumps, which `oracle_check.py` compares with DuckDB running each
  * query's `SparkEntry.oracleSql`. */
object Recorder {
  val VisSeeds: Seq[Long] = 0L until 16L

  def run(w: Workload, work: String, cpus: Int): Unit = {
    val spark = Session.create(cpus)
    val mapper = Expected.json
    w match {
      case Headline =>
        val dir = s"$work/tables"
        Gen.writeTables(spark, dir, Headline.Sf, Headline.DataSeed)
        val dump = s"$work/oracle"
        val fps = Headline.record(spark, dir, dump)
        val sql = mapper.createObjectNode()
        Headline.queries.foreach(q => graft.SparkEntry.oracleSql.get(q).foreach(sql.put(q, _)))
        mapper.writeValue(new java.io.File(s"$dump/oracle_sql.json"), sql)
        val root = mapper.createObjectNode()
        root.put("sf", Headline.Sf).put("data_seed", Headline.DataSeed)
        val node = root.putObject("fingerprints")
        fps.toSeq.sortBy(_._1).foreach { case (q, fp) => node.put(q, fp) }
        Expected.write("headline.json", root)
        println(s"recorded ${fps.size} headline fingerprints; oracle dump in $dump")
      case VisSession =>
        val root = mapper.createObjectNode()
        root.put("rows", VisSession.Rows).put("k", VisSession.K)
        val lists = root.putObject("lists")
        VisSeeds.foreach { seed =>
          val arr = lists.putArray(seed.toString)
          VisSession.record(spark, seed, work).foreach(arr.add)
        }
        Expected.write("vis_session.json", root)
        println(s"recorded vis_session lists for seeds ${VisSeeds.head}..${VisSeeds.last}")
      case other => Main.fail(s"${other.name} checks its outputs against planted truth; nothing to record")
    }
    Session.stop(spark)
  }
}
