package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.pipeline.Bbdc

/** What one timed pass produced. `opSecs` holds the latency of every
  * operation that completed; `threw` counts the ones that threw. `rows` is
  * the input rows the workload fed in; with `rowsReadByTasks` the rows
  * Spark's tasks read from files are added (the registry reads parquet
  * tables). `check`
  * runs after the timed window and returns how many operations produced a
  * wrong result; `cleanup` releases what the pass left cached. `layer`
  * carries per-layer numbers the workload reads from the engine itself.
  */
final case class PassOut(
    opSecs: Seq[Double],
    attempted: Int,
    threw: Int,
    rows: Long,
    check: () => Int,
    cleanup: () => Unit = () => (),
    layer: Map[String, Double] = Map.empty,
    rowsReadByTasks: Boolean = false)

/** A workload: inputs built by [[prepare]] (repeatable, part of set-up) and
  * a closed loop of operations run by [[pass]], one client, each operation
  * starting when the previous one completed.
  */
trait Workload {
  def name: String
  def prepare(): Unit
  def warmup(tr: Tracer): Unit
  def pass(tr: Tracer): PassOut
}

object Workload {
  val Names: Seq[String] = Seq("bbdc_pipeline", "registry_mix")

  def apply(name: String, spark: SparkSession, seed: Long, benchDir: Path, workDir: Path): Workload =
    name match {
      case "bbdc_pipeline" => new BbdcPipeline(spark, seed, BbdcPipeline.DefaultShape, benchDir)
      case "registry_mix"  => new RegistryMix(spark, seed, benchDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other; one of ${Names.mkString(", ")}")
    }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString

  /** Persists `df` and forces every column of it into the cache. */
  def materialize(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** Order-independent exact fingerprint of a result: row count and the sum
    * of a full-row xxhash64, summed as DECIMAL so no rounding depends on
    * the order partitions are added in.
    */
  def fingerprint(df: DataFrame): String = {
    val r = df.select(
      count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse("null")}"
  }

  def readPinned(file: Path): Map[String, String] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file, UTF_8).asScala.filter(_.contains('\t'))
      .map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap
}

/** The paper's job (`pipeline/Bbdc.scala`) on seeded BBDC-shaped inputs:
  * targets → clean → repair → features → 11-model ensemble per arm →
  * vote → RLE segments. One operation is one full pipeline run. Every
  * stage's output is materialized inside its span, so each stage is timed
  * on its own and later stages read it from the cache.
  */
final class BbdcPipeline(spark: SparkSession, seed: Long, var shape: Inputs.BbdcShape, benchDir: Path)
    extends Workload {
  import BbdcPipeline._
  val name = "bbdc_pipeline"
  private var inputs: Option[(Inputs.Bbdc, DataFrame, DataFrame, DataFrame)] = None
  private val pinned = Workload.readPinned(benchDir.resolve("fingerprints/bbdc_segments.tsv"))
  private def pinKey = s"$seed/${shape.subjects}x${shape.trials}x${shape.trialSec}s"

  def prepare(): Unit = {
    inputs.foreach { case (_, l, e, m) => Seq(l, e, m).foreach(_.unpersist(blocking = true)) }
    val in = Inputs.bbdc(seed, shape)
    inputs = Some((in,
      Workload.materialize(Inputs.frame(spark, in.labels, Inputs.LabelSchema)),
      Workload.materialize(Inputs.frame(spark, in.emg, Inputs.EmgSchema)),
      Workload.materialize(Inputs.frame(spark, in.mocap, Inputs.MocapSchema))))
  }

  def warmup(tr: Tracer): Unit = ()

  def pass(tr: Tracer): PassOut = {
    val (in, labels, emg, mocap) = inputs.getOrElse(sys.error("prepare() first"))
    val heldOut = shape.subjectIds.last
    val t0 = System.nanoTime()
    val targets = tr.span("pipeline.targets")(Workload.materialize(Bbdc.targetsToGrid(labels)))
    val (cleanEmg, cleanMocap) = tr.span("pipeline.clean") {
      (Workload.materialize(Bbdc.cleanSensors(emg, Inputs.EmgChannels)),
        Workload.materialize(Bbdc.cleanSensors(mocap, Inputs.MocapCols)))
    }
    val repaired = tr.span("pipeline.repair") {
      Workload.materialize(Bbdc.repairChannel(
        cleanEmg, Inputs.EmgChannels.last, Inputs.EmgChannels.init, Seq(shape.subjectIds.head)))
    }
    val feats = tr.span("pipeline.features") {
      val framed = Bbdc.applyReferenceFrame(
        cleanMocap,
        Inputs.HandCols.map(c => c -> s"Chest_Position_${c.last}").toMap,
        skip = _.endsWith("_Y"))
      Workload.materialize(Bbdc.buildFeatures(
        repaired, Inputs.EmgChannels, framed, Inputs.HandCols, Seq(400L, 1200L)))
    }
    val segments = tr.span("pipeline.ensemble") {
      Inputs.Arms.flatMap { arm =>
        Bbdc.trainPredictSegments(feats, targets, arm, heldOut, Models)
          .select("key", "start_s", "end_s", "action").collect()
          .map(r => Segment(r.getString(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    lastSegments = segments
    val cached = Seq(targets, cleanEmg, cleanMocap, repaired, feats)
    PassOut(Seq(secs), 1, 0, in.rows,
      check = () => {
        // every sensor and label covers the whole trial, so each held-out key's
        // grid is the window ends 200 ms .. trial length
        val windows = (1 to shape.trialSec * 5).map(_ * Bbdc.StepMs)
        val grid = (for (t <- shape.trialIds; arm <- Inputs.Arms) yield s"$heldOut$t.$arm" -> windows).toMap
        val problems = BbdcPipeline.invariantProblems(segments, grid) ++
          pinned.get(pinKey).filter(_ != segmentsFingerprint(segments))
            .map(p => s"segment fingerprint differs from pinned $p")
        problems.take(5).foreach(p => System.err.println(s"[perfbench] bbdc_pipeline: $p"))
        if (problems.isEmpty) 0 else 1
      },
      cleanup = () => cached.foreach(_.unpersist(blocking = true)))
  }

  /** The pinned-fingerprint line for the last pass's segments. */
  def pinLine: String = s"$pinKey\t${segmentsFingerprint(lastSegments)}"
  private var lastSegments: Seq[Segment] = Nil
}

object BbdcPipeline {
  /** K subjects × T trials × 4 s of 600 Hz EMG: the last subject is held out. */
  val DefaultShape: Inputs.BbdcShape = Inputs.BbdcShape(subjects = 2, trials = 1, trialSec = 4)
  val Models = 11

  final case class Segment(key: String, start: Double, end: Double, action: String)

  def segmentsFingerprint(segs: Seq[Segment]): String =
    Workload.sha256(segs.sortBy(s => (s.key, s.start)).map(s => s"${s.key},${s.start},${s.end},${s.action}").mkString("\n"))

  /** Seed-independent checks of the submission segments against the
    * held-out subject's 200 ms grid (`key` → sorted window_ms): per key the
    * segments chain without gap or overlap from the first grid window to
    * the last (the closing flush ends on it), neighbours carry different
    * labels, every boundary is a grid window and every label belongs to the
    * key's arm. Returns one message per violation.
    */
  def invariantProblems(segs: Seq[Segment], grid: Map[String, Seq[Long]]): Seq[String] = {
    val byKey = segs.groupBy(_.key)
    val missing = grid.keySet.diff(byKey.keySet).toSeq.sorted.map(k => s"$k: no segments")
    val extra = byKey.keySet.diff(grid.keySet).toSeq.sorted.map(k => s"$k: segments outside the held-out grid")
    val perKey = byKey.toSeq.sortBy(_._1).filter(kv => grid.contains(kv._1)).flatMap { case (key, ss) =>
      val s = ss.sortBy(_.start)
      val g = grid(key)
      val points = g.map(_ / 1000.0).toSet
      val arm = key.split('.').last
      Seq(
        (s.head.start != g.head / 1000.0) -> s"$key: starts at ${s.head.start}, grid at ${g.head / 1000.0}",
        (s.last.end != g.last / 1000.0) -> s"$key: ends at ${s.last.end}, grid at ${g.last / 1000.0}",
        s.zip(s.drop(1)).exists { case (a, b) => a.end != b.start } -> s"$key: segments overlap or leave a gap",
        s.zip(s.drop(1)).exists { case (a, b) => a.action == b.action } -> s"$key: neighbouring segments share a label",
        s.exists(x => !points(x.start) || !points(x.end)) -> s"$key: a boundary is off the grid",
        s.exists(x => !Inputs.actions(arm).contains(x.action)) -> s"$key: label outside arm $arm",
      ).collect { case (true, msg) => msg }
    }
    missing ++ extra ++ perKey
  }
}

/** The registry's entry points in one closed loop: every k-th query of
  * `SparkEntry.queries` in name order over the sf0.01 tables, in a
  * seed-shuffled order, then the streaming replay ([[StreamIngest]]) over
  * seeded events. One operation is one query or one micro-batch. A query
  * builds its frame (plan construction plus any eager fits) and forces
  * every output column through an exact xxhash64 sum, compared with the
  * pinned fingerprint; fit memos and tracked caches are reset between
  * queries so each query pays for its own fits.
  */
final class RegistryMix(spark: SparkSession, seed: Long, benchDir: Path, workDir: Path) extends Workload {
  val name = "registry_mix"
  val dataDir: String = benchDir.resolve("data/sf0.01").toString
  private val pinned = Workload.readPinned(benchDir.resolve("fingerprints/registry_sf0.01.tsv"))
  val subset: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
    .collect { case (q, i) if i % RegistryMix.Every == 0 => q }
  val order: Seq[String] = new Random(seed).shuffle(subset)
  private val stream = new StreamIngest(spark, seed, workDir)

  /** First touch of every table (file listing, footers, schema) and the
    * replay's events.
    */
  def prepare(): Unit = {
    RegistryMix.Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
    stream.prepare()
  }

  /** Runs every query once, in name order, so the timed pass measures warm
    * query paths whatever order the seed gives.
    */
  def warmup(tr: Tracer): Unit =
    subset.foreach { q =>
      try runOne(tr, q) finally reset(tr)
    }

  /** Runs one query and returns its fingerprint. */
  def runOne(tr: Tracer, q: String): String = {
    val df = tr.span("queries.build")(SparkEntry.queries(q)(spark, dataDir))
    tr.span("queries.exec")(Workload.fingerprint(df))
  }

  private def reset(tr: Tracer): Unit = tr.span("bench.reset") {
    graft.ops.Fits.reset()
    graft.ops.Caches.releaseAll()
  }

  def pass(tr: Tracer): PassOut = {
    val lat = Seq.newBuilder[Double]
    val wrong = Seq.newBuilder[String]
    var threw = 0
    order.foreach { q =>
      val t0 = System.nanoTime()
      try {
        val fp = runOne(tr, q)
        lat += (System.nanoTime() - t0) / 1e9
        if (!pinned.get(q).contains(fp)) wrong += s"$q: fingerprint $fp, pinned ${pinned.getOrElse(q, "none")}"
      } catch {
        case e: Exception =>
          threw += 1
          System.err.println(s"[perfbench] registry_mix: $q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally reset(tr)
    }
    val mismatches = wrong.result()
    val s = stream.pass(tr)
    PassOut(lat.result() ++ s.opSecs, order.size + s.attempted, threw + s.threw, s.rows,
      check = () => {
        mismatches.take(5).foreach(m => System.err.println(s"[perfbench] registry_mix: $m"))
        mismatches.size + s.check()
      },
      cleanup = s.cleanup,
      layer = s.layer,
      rowsReadByTasks = true)
  }
}

object RegistryMix {
  /** Every 40th query in name order: a fixed subset that fits one run. */
  val Every = 40
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
}
