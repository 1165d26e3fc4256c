package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (normally started by `run.py`).
  *
  * {{{
  * Main --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  *      [--bench-dir perfbench] [--work-dir <dir>] [--bless] [--untraced-wall <s>]
  * }}}
  *
  * Untraced (`--trace 0`): set up, then run timed passes of the workload
  * until `--seconds` have passed (at least one), checking every pass's
  * outputs, and print the end-to-end metrics. Traced (`--trace 1`): set up,
  * run one traced pass (for `bbdc_pipeline` a second one at half the trial
  * length, for the size check), print the per-layer metrics, the self time
  * of each layer and, given the untraced wall of the same workload and seed,
  * the tracing overhead; write the spans to
  * `<work-dir>/trace-<workload>-<seed>.json`. The last
  * stdout line is one JSON object: correct, attempted, failed, metrics.
  */
object Main {
  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Int = 10,
      trace: Boolean = false,
      benchDir: Path = Paths.get("perfbench"),
      workDir: Path = Paths.get("perfbench", "target", "run"),
      bless: Boolean = false,
      untracedWall: Option[Double] = None)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest  => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest      => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest   => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest     => parse(rest, a.copy(trace = v == "1"))
    case "--bench-dir" :: v :: rest => parse(rest, a.copy(benchDir = Paths.get(v)))
    case "--work-dir" :: v :: rest  => parse(rest, a.copy(workDir = Paths.get(v)))
    case "--bless" :: rest          => parse(rest, a.copy(bless = true))
    case "--untraced-wall" :: v :: rest => parse(rest, a.copy(untracedWall = Some(v.toDouble)))
    case Nil                        => a
    case other => throw new IllegalArgumentException(s"unexpected arguments: ${other.mkString(" ")}")
  }

  /** Slots of the local session: at most 4, never more than the machine has. */
  val Slots: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(workDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("perfbench")
      // fixed, not Slots: results must not depend on the machine's core count
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  final case class Metric(name: String, value: Double, unit: String)
  final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric])

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Session start (from JVM start), the median of three input set-ups and
    * the warm-up: everything before the first timed operation.
    */
  private def setUp(w: Workload, sessionS: Double, tr: Tracer): Double = {
    val prep = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      w.prepare()
      secondsSince(t0)
    }
    val t0 = System.nanoTime()
    w.warmup(tr)
    sessionS + Stats.median(prep) + secondsSince(t0)
  }

  /** One pass inside a root span; its outputs are checked after the span. */
  private def timedPass(w: Workload, tr: Tracer): (PassOut, Int) = {
    val out = tr.span("bench.pass", always = true)(w.pass(tr))
    val wrong = try out.check() finally out.cleanup()
    (out, out.threw + wrong)
  }

  def untraced(w: Workload, a: Args, setupS: Double, spark: SparkSession): Result = {
    val tr = new Tracer(spark, s"${w.name}-${a.seed}", detailed = false)
    val outs = mutable.ArrayBuffer.empty[(PassOut, Int)]
    val t0 = System.nanoTime()
    while (outs.isEmpty || secondsSince(t0) < a.seconds) outs += timedPass(w, tr)
    val spans = tr.finish()
    val passes = spans.filter(_.name == "bench.pass")
    val counters = passes.map(p => Span.subtreeCounters(spans, p.id))
    val walls = passes.map(_.duration)
    val rows = outs.zip(counters).map { case ((o, _), c) =>
      o.rows + (if (o.rowsReadByTasks) c.getOrElse("records_read", 0.0) else 0.0)
    }
    val ops = outs.flatMap(_._1.opSecs).toSeq
    val (p90, resolved) = Stats.p90OrMax(ops)
    System.out.println(s"[perfbench] ${w.name}: ${passes.size} passes, ${ops.size} operations; " +
      (if (resolved) "p90 resolved" else s"p90 not resolved by ${ops.size} samples, op_p90_s is the maximum"))
    val attempted = outs.map(_._1.attempted).sum
    val failed = outs.map(_._2).sum
    Result(attempted, failed, Seq(
      Metric("setup_s", setupS, "s"),
      Metric("wall_s", Stats.median(walls), "s"),
      Metric("rows_per_s", rows.sum / walls.sum, "rows/s"),
      Metric("op_p50_s", Stats.median(ops), "s"),
      Metric("op_p90_s", p90, "s"),
      Metric("cpu_s", Stats.median(counters.map(_.getOrElse("task_cpu_s", 0.0))), "s"),
      Metric("peak_rss_mb", peakRssMb(), "MB"),
      Metric("failed_frac", failed.toDouble / attempted, "frac")))
  }

  val PipelineStages: Seq[String] = Seq("targets", "clean", "repair", "features", "ensemble")
  val SparkCounters: Seq[(String, String)] = Seq(
    "plan_s" -> "s", "codegen_classes" -> "count", "codegen_compile_s" -> "s",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "slot_busy_frac" -> "frac",
    "deser_s" -> "s", "task_cpu_s" -> "s", "task_run_s" -> "s", "task_max_s" -> "s", "gc_s" -> "s",
    "shuffle_mb" -> "MB", "fetch_wait_s" -> "s", "spill_mb" -> "MB")
  val StreamingLayer: Seq[(String, String)] = Seq(
    "batch_s" -> "s", "add_batch_s" -> "s", "state_commit_s" -> "s",
    "state_rows" -> "count", "state_mb" -> "MB")

  /** One traced pass: spans, self times by layer, and per-layer metrics. */
  private def tracedPass(w: Workload, a: Args, spark: SparkSession, tag: String)
      : (Seq[Span], Span, PassOut, Int) = {
    val tr = new Tracer(spark, s"${w.name}-${a.seed}-$tag", detailed = true)
    val (out, bad) = timedPass(w, tr)
    val spans = tr.finish()
    (spans, spans.find(_.name == "bench.pass").get, out, bad)
  }

  def traced(w: Workload, a: Args, setupS: Double, spark: SparkSession): Result = {
    val (spans, root, out, bad) = tracedPass(w, a, spark, "traced")
    val self = Span.selfTimes(spans)
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    val c = Span.subtreeCounters(spans, root.id)
    def total(ss: Seq[Span], name: String): Double = ss.filter(_.name == name).map(_.duration).sum
    val stageSecs = PipelineStages.map(s => s -> total(spans, s"pipeline.$s")).toMap
    // size check: each stage's cost at this trial length over its cost at half of it
    val (ratios, sizeBad) = w match {
      case b: BbdcPipeline =>
        val full = b.shape
        b.shape = full.copy(trialSec = full.trialSec / 2)
        b.prepare()
        val (half, _, _, bad2) = tracedPass(b, a, spark, "half")
        b.shape = full
        System.out.println(s"[perfbench] ${w.name}: size check, ${full.trialSec} s trials over ${full.trialSec / 2} s trials:")
        val r = PipelineStages.map(s => s -> stageSecs(s) / total(half, s"pipeline.$s")).toMap
        PipelineStages.foreach(s => System.out.println(f"[perfbench] ${w.name}:   $s%-9s ${r(s)}%6.2f x"))
        (r, bad2)
      case _ => (PipelineStages.map(_ -> 0.0).toMap, 0)
    }
    writeTrace(a.workDir.resolve(s"trace-${w.name}-${a.seed}.json"), spans)
    val wall = root.duration
    val selfSum = byLayer.values.sum
    System.out.println(f"[perfbench] ${w.name}: traced wall $wall%.3f s; " +
      f"self times cover ${100 * selfSum / wall}%.1f%% of it")
    a.untracedWall.foreach { u =>
      System.out.println(f"[perfbench] ${w.name}: untraced wall $u%.3f s, tracing overhead ${wall - u}%.3f s")
    }
    byLayer.toSeq.sortBy(-_._2).foreach { case (l, s) =>
      System.out.println(f"[perfbench] ${w.name}:   layer $l%-10s self $s%9.3f s  ${100 * s / wall}%5.1f%%")
    }
    System.out.println(s"[perfbench] ${w.name}: dominant layer ${byLayer.maxBy(_._2)._1}")
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }.toSeq.sortBy(-_._2)
      .foreach { case (n, s) => System.out.println(f"[perfbench] ${w.name}:   span $n%-18s self $s%9.3f s") }
    val metrics =
      PipelineStages.map(s => Metric(s"pipeline.${s}_s", stageSecs(s), "s")) ++
        PipelineStages.map(s => Metric(s"pipeline.${s}_ratio_2x", ratios(s), "x")) ++
        Seq(Metric("queries.build_s", total(spans, "queries.build"), "s"),
          Metric("queries.exec_s", total(spans, "queries.exec"), "s")) ++
        SparkCounters.map { case (k, u) =>
          val v = if (k == "slot_busy_frac") c.getOrElse("task_busy_s", 0.0) / (wall * Slots)
            else c.getOrElse(k, 0.0)
          Metric(s"spark.$k", v, u)
        } ++
        StreamingLayer.map { case (k, u) => Metric(s"streaming.$k", out.layer.getOrElse(s"streaming.$k", 0.0), u) } ++
        Seq(Metric("trace.wall_s", wall, "s"), Metric("trace.self_cover", selfSum / wall, "frac"))
    Result(out.attempted + (if (w.isInstanceOf[BbdcPipeline]) 1 else 0), bad + sizeBad, metrics)
  }

  def writeTrace(file: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(file.getParent)
    val self = Span.selfTimes(spans)
    val lines = spans.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"run":${Json.str(s.runId)},""" +
        s""""start":${Json.num(s.start)},"end":${Json.num(s.end)},"self":${Json.num(self(s.id))},"counters":{$cs}}"""
    }
    Files.write(file, lines.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
  }

  def bless(w: Workload, a: Args, spark: SparkSession): Unit = w match {
    case r: RegistryMix =>
      val tr = new Tracer(spark, "bless", detailed = false)
      val lines = graft.SparkEntry.queries.keys.toSeq.sorted.map { q =>
        val fp = try r.runOne(tr, q) finally { graft.ops.Fits.reset(); graft.ops.Caches.releaseAll() }
        s"$q\t$fp"
      }
      tr.finish()
      val f = a.benchDir.resolve("fingerprints/registry_sf0.01.tsv")
      Files.createDirectories(f.getParent)
      Files.write(f, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      System.out.println(s"[perfbench] wrote ${lines.size} fingerprints to $f")
    case b: BbdcPipeline =>
      val tr = new Tracer(spark, "bless", detailed = false)
      timedPass(b, tr)
      tr.finish()
      val f = a.benchDir.resolve("fingerprints/bbdc_segments.tsv")
      Files.createDirectories(f.getParent)
      val key = b.pinLine.takeWhile(_ != '\t')
      val kept = Workload.readPinned(f).filter(_._1 != key).map { case (k, v) => s"$k\t$v" }.toSeq
      Files.write(f, (kept :+ b.pinLine).sorted.mkString("", "\n", "\n").getBytes(UTF_8))
      System.out.println(s"[perfbench] pinned ${b.pinLine}")
    case other => throw new IllegalArgumentException(s"${other.name} has no pinned outputs")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val names = if (a.workload == "all") Workload.Names else Seq(a.workload)
    require(names.forall(Workload.Names.contains),
      s"--workload must be one of ${(Workload.Names :+ "all").mkString(", ")}")
    require(Files.isDirectory(a.benchDir.resolve("data")), s"no benchmark data under ${a.benchDir}")
    Files.createDirectories(a.workDir)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.workDir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val results = try names.map { n =>
      val w = Workload(n, spark, a.seed, a.benchDir, a.workDir)
      val setupTracer = new Tracer(spark, s"$n-${a.seed}-setup", detailed = false)
      // only the first workload of the process pays for the session
      val setupS = setUp(w, if (n == names.head) sessionS else 0.0, setupTracer)
      setupTracer.finish()
      if (a.bless) { bless(w, a, spark); n -> Result(1, 0, Nil) }
      else n -> (if (a.trace) traced(w, a, setupS, spark) else untraced(w, a, setupS, spark))
    } finally spark.stop()
    results.foreach { case (n, r) =>
      r.metrics.foreach(m => System.out.println(f"[perfbench] $n%-14s ${m.name}%-26s ${m.value}%14.6f ${m.unit}"))
      System.out.println(f"[perfbench] $n%-14s attempted ${r.attempted}, failed ${r.failed}")
    }
    // failed_frac is derived from attempted/failed in the JSON line
    def prefix(n: String) = if (names.size == 1) "" else s"$n."
    val metrics = results.flatMap { case (n, r) =>
      r.metrics.filter(_.name != "failed_frac").map(m => s"${prefix(n)}${m.name}" -> m)
    }
    val attempted = results.map(_._2.attempted).sum
    val failed = results.map(_._2.failed).sum
    val body = metrics.map { case (k, m) => s"${Json.str(k)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}" }
    System.out.println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${body.mkString(",")}}}""")
    System.out.flush()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
