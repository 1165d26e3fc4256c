package graft.perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic inputs. Everything is generated on the driver from the
  * seed alone, so the same seed gives byte-identical inputs ([[bytes]]).
  */
object Inputs {

  /** Shape of the BBDC-like sensor data (FIXTURES.md §A). */
  final case class BbdcShape(subjects: Int, trials: Int, trialSec: Int) {
    val emgHz = 600
    val mocapHz = 100
    def subjectIds: Seq[String] = (1 to subjects).map(i => f"s$i%02d")
    def trialIds: Seq[String] = (1 to trials).map(i => f"t$i%02d")
  }

  val EmgChannels: Seq[String] = (0 until 8).map(c => s"ch$c")
  val MocapCols: Seq[String] =
    for (s <- Seq("LHand", "RHand", "Chest"); a <- Seq("X", "Y", "Z")) yield s"${s}_Position_$a"
  val HandCols: Seq[String] = MocapCols.filterNot(_.startsWith("Chest"))
  val Arms: Seq[String] = Seq("la", "ra")
  private val ActionNames = Seq("nothing", "lift", "reach", "grasp", "carry", "place")
  def actions(arm: String): Seq[String] = ActionNames.map(a => s"$arm-$a")

  /** Label intervals, EMG rows and mocap rows as plain driver-side rows. */
  final case class Bbdc(shape: BbdcShape, labels: Seq[Row], emg: Seq[Row], mocap: Seq[Row]) {
    def rows: Long = labels.size.toLong + emg.size + mocap.size
  }

  val LabelSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("start_s", DoubleType, nullable = false),
    StructField("end_s", DoubleType, nullable = false),
    StructField("action", StringType, nullable = false)))
  private def sensorSchema(cols: Seq[String]) = StructType(Seq(
    StructField("subject", StringType, nullable = false),
    StructField("trial", StringType, nullable = false),
    StructField("ts_ms", LongType, nullable = false)) ++
    cols.map(StructField(_, DoubleType, nullable = true)))
  val EmgSchema: StructType = sensorSchema(EmgChannels)
  val MocapSchema: StructType = sensorSchema(MocapCols)

  /** One trial's label timeline per arm: contiguous intervals on a 200 ms
    * boundary grid, 0.4 to 2.6 s long, alternating `nothing` with one of the
    * five actions. Returns (start_s, end_s, action index).
    */
  private def timeline(rng: Random, trialSec: Int): Seq[(Double, Double, Int)] = {
    val steps = trialSec * 5 // 200 ms steps
    val out = Seq.newBuilder[(Double, Double, Int)]
    var at = 0
    var busy = rng.nextBoolean()
    while (at < steps) {
      val len = math.min(2 + rng.nextInt(12), steps - at)
      out += ((at / 5.0, (at + len) / 5.0, if (busy) 1 + rng.nextInt(5) else 0))
      at += len
      busy = !busy
    }
    out.result()
  }

  /** NULL runs for one channel of one trial: a few gaps of 2-40 samples,
    * and sometimes a leading gap (left as 0 by the cleaner's fill).
    */
  private def nullMask(rng: Random, n: Int, runs: Int, maxLen: Int): Array[Boolean] = {
    val mask = new Array[Boolean](n)
    if (rng.nextInt(4) == 0) (0 until 1 + rng.nextInt(maxLen)).foreach(i => mask(i) = true)
    (0 until runs).foreach { _ =>
      val at = rng.nextInt(n)
      (at until math.min(n, at + 2 + rng.nextInt(maxLen))).foreach(i => mask(i) = true)
    }
    mask
  }

  def bbdc(seed: Long, shape: BbdcShape): Bbdc = {
    val rng = new Random(seed)
    val labels = Seq.newBuilder[Row]
    val emg = Seq.newBuilder[Row]
    val mocap = Seq.newBuilder[Row]
    for (s <- shape.subjectIds; t <- shape.trialIds) {
      val lines = Arms.map(arm => arm -> timeline(rng, shape.trialSec)).toMap
      for (arm <- Arms; (a, b, act) <- lines(arm))
        labels += Row(s"$s$t.$arm", a, b, actions(arm)(act))
      def actionAt(arm: String, ms: Long): Int =
        lines(arm).find { case (_, b, _) => ms < b * 1000 }.map(_._3).getOrElse(0)
      val gain = 0.8 + 0.4 * rng.nextDouble() // per-trial electrode gain
      val nEmg = shape.trialSec * shape.emgHz
      val emgMasks = EmgChannels.map(_ => nullMask(rng, nEmg, 3, 40))
      (0 until nEmg).foreach { i =>
        val ms = i * 1000L / shape.emgHz
        val la = actionAt("la", ms)
        val ra = actionAt("ra", ms)
        val vals = EmgChannels.indices.map { c =>
          if (emgMasks(c)(i)) null
          else {
            val act = if (c < 4) la else ra
            val amp = gain * (0.1 + 0.25 * act + 0.05 * c)
            java.lang.Double.valueOf(amp * math.sin(ms * 0.31 * (c + 1)) + 0.05 * rng.nextGaussian())
          }
        }
        emg += Row.fromSeq(Seq(s, t, ms) ++ vals)
      }
      val nMo = shape.trialSec * shape.mocapHz
      val moMasks = MocapCols.map(_ => nullMask(rng, nMo, 1, 8))
      val chest = Array.fill(3)(rng.nextDouble() * 100)
      (0 until nMo).foreach { i =>
        val ms = i * 1000L / shape.mocapHz
        val reach = Map("LHand" -> actionAt("la", ms), "RHand" -> actionAt("ra", ms))
        val vals = MocapCols.zipWithIndex.map { case (c, j) =>
          if (moMasks(j)(i)) null
          else {
            val axis = j % 3
            val sensor = c.takeWhile(_ != '_')
            val base = chest(axis) + ms * 1e-4
            val v = reach.get(sensor) match {
              case Some(act) => base + 20.0 * act * (if (axis == 1) 0.5 else 1.0) + rng.nextGaussian()
              case None      => base + 0.1 * rng.nextGaussian()
            }
            java.lang.Double.valueOf(v)
          }
        }
        mocap += Row.fromSeq(Seq(s, t, ms) ++ vals)
      }
    }
    Bbdc(shape, labels.result(), emg.result(), mocap.result())
  }

  /** The `events` table shape used by the streaming workload: `n` events by
    * `users` users spread over `days` days, in timestamp order. Each user's
    * event type changes with probability 0.3 per event, so runs exist.
    */
  final case class Event(eventId: Long, tsMs: Long, userId: Long, eventType: String, value: Double)
  val EventTypes: Seq[String] = Seq("view", "click", "cart", "buy", "search", "share")
  val EventsEpochMs: Long = 1767225600000L // 2026-01-01T00:00:00Z

  def events(seed: Long, n: Int, users: Int, days: Int): IndexedSeq[Event] = {
    val rng = new Random(seed)
    val span = days * 86400000L
    val ts = Array.fill(n)((rng.nextDouble() * span).toLong)
    java.util.Arrays.sort(ts)
    val current = new Array[Int](users + 1)
    ts.indices.map { i =>
      val u = 1 + (users * math.pow(rng.nextDouble(), 1.5)).toInt.min(users - 1)
      if (rng.nextDouble() < 0.3) current(u) = rng.nextInt(EventTypes.size)
      Event(i.toLong, EventsEpochMs + ts(i), u.toLong, EventTypes(current(u)), rng.nextGaussian() * 10 + 50)
    }
  }

  /** Canonical bytes of generated rows, for the same-seed-same-bytes check. */
  def bytes(rows: Seq[Row]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    rows.foreach(_.toSeq.foreach {
      case null      => out.writeByte(0)
      case s: String => out.writeByte(1); out.writeUTF(s)
      case l: Long   => out.writeByte(2); out.writeLong(l)
      case d: Double => out.writeByte(3); out.writeDouble(d)
      case other     => throw new IllegalArgumentException(s"unexpected value $other")
    })
    out.flush()
    bos.toByteArray
  }

  def eventRows(es: Seq[Event]): Seq[Row] =
    es.map(e => Row(e.eventId, e.tsMs, e.userId, e.eventType, e.value))

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
