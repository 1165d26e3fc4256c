package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Streaming
import graft.streaming.Streaming.{Obs, Segment}

/** Seeded `events` replayed in timestamp order as fixed-size micro-batches
  * through `MemoryStream`s into `Streaming.tumblingAgg`, `sessionWindowAgg`
  * and `sessionizeRle`, each with a watermark and a local checkpoint
  * directory. One operation is one micro-batch: add it to the three
  * streams, then wait until all three queries have processed it. After the
  * replay, two sentinel batches far in the future move the watermark past
  * every window, session and open run, and the emitted output is compared
  * with the same functions run on the whole table as a batch.
  */
final class StreamIngest(spark: SparkSession, seed: Long, workDir: Path) {
  import StreamIngest._
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private var events: IndexedSeq[Inputs.Event] = IndexedSeq.empty
  private var expected: Option[Outputs] = None
  private var passNo = 0

  def prepare(): Unit = {
    events = Inputs.events(seed, Rows, Users, Days)
    expected = None
  }

  private def withTs(df: DataFrame): DataFrame = df.withColumn("ts", timestamp_millis(col("tsMs")))
  private def tumble(df: DataFrame): DataFrame =
    Streaming.tumblingAgg(withTs(df), "ts", "userId", "1 hour", Watermark)
      .select(unix_millis(col("window.start")).as("w"), col("userId"), col("n"), col("mean_value"))
  private def sessions(df: DataFrame): DataFrame =
    Streaming.sessionWindowAgg(withTs(df), "ts", "userId", "30 minutes", Watermark)
      .select(col("userId"), unix_millis(col("session_start")).as("s"),
        unix_millis(col("session_end")).as("e"), col("n"))
  private def obs(ds: Dataset[Inputs.Event]): Dataset[Obs] = ds.map(e => Obs(e.userId.toString, e.tsMs, e.eventType))
  /** The streamed runs close on an event-time flush; a batch has no
    * watermark to flush on, so it runs the same function without one.
    */
  private def runs(ds: Dataset[Inputs.Event]): Dataset[Segment] =
    Streaming.sessionizeRle(obs(ds), timeoutMs = Some(RunTimeoutMs), eventTimeWatermark = Some(Watermark))
  private def batchRuns(ds: Dataset[Inputs.Event]): Dataset[Segment] = Streaming.sessionizeRle(obs(ds))

  private def collect(t: DataFrame, s: DataFrame, r: Dataset[Segment]): Outputs = Outputs(
    t.as[(Long, Long, Long, Double)].collect().toSeq,
    s.as[(Long, Long, Long, Long)].collect().toSeq,
    r.collect().toSeq)

  def pass(tr: Tracer): PassOut = {
    passNo += 1
    val tag = s"p${passNo}_${System.nanoTime()}"
    val ckpt = Files.createDirectories(workDir.resolve(s"ckpt_$tag"))
    // one state partition per query: the three queries share the session's slots
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val ins = Seq.fill(3)(MemoryStream[Inputs.Event])
    val names = Seq("tumble", "sessions", "runs").map(n => s"${n}_$tag")
    val frames: Seq[Dataset[_]] =
      Seq(tumble(ins(0).toDF()), sessions(ins(1).toDF()), runs(ins(2).toDS()))
    val queries: Seq[StreamingQuery] = frames.zip(names).map { case (f, n) =>
      f.writeStream.format("memory").queryName(n).outputMode("append")
        .option("checkpointLocation", ckpt.resolve(n).toString).start()
    }
    val lat = Seq.newBuilder[Double]
    try {
      def feed(batch: Seq[Inputs.Event]): Unit = {
        tr.span("streaming.feed")(ins.foreach(_.addData(batch)))
        tr.span("streaming.process")(queries.foreach(_.processAllAvailable()))
      }
      events.grouped(BatchRows).foreach { b =>
        val t0 = System.nanoTime()
        feed(b)
        lat += (System.nanoTime() - t0) / 1e9
      }
      val state = stateTotals(queries)
      val last = events.last.tsMs
      Seq(FlushAfterMs, FlushAfterMs + 60000L).foreach { d =>
        feed(Seq(Inputs.Event(-1L, last + d, SentinelUser, Inputs.EventTypes.head, 0.0)))
      }
      val got = collect(spark.table(names(0)), spark.table(names(1)), spark.table(names(2)).as[Segment])
      val progress = queries.flatMap(_.recentProgress)
      val ops = lat.result()
      PassOut(ops, ops.size, 0, events.size.toLong,
        check = () => {
          val want = expected.getOrElse {
            val df = events.toDF()
            val e = collect(tumble(df), sessions(df), batchRuns(events.toDS()))
            expected = Some(e)
            e
          }
          val problems = StreamIngest.problems(got, want, events.map(_.userId).distinct.size, events.size)
          problems.take(5).foreach(p => System.err.println(s"[perfbench] stream_ingest: $p"))
          if (problems.isEmpty) 0 else ops.size
        },
        cleanup = () => {
          names.foreach(spark.catalog.dropTempView)
          deleteTree(ckpt)
        },
        layer = Map(
          "streaming.batch_s" -> progress.map(_.durationMs.getOrDefault("triggerExecution", 0L).longValue).sum / 1e3,
          "streaming.add_batch_s" -> progress.map(_.durationMs.getOrDefault("addBatch", 0L).longValue).sum / 1e3,
          "streaming.state_commit_s" -> progress.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1e3) ++ state)
    } finally {
      queries.foreach(_.stop())
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  /** State held at the end of the replay, before the flush empties it. */
  private def stateTotals(queries: Seq[StreamingQuery]): Map[String, Double] = {
    val ops = queries.flatMap(q => Option(q.lastProgress)).flatMap(_.stateOperators)
    Map(
      "streaming.state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mb" -> ops.map(_.memoryUsedBytes).sum / 1e6)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

object StreamIngest {
  /** The sf0.1 `events` shape, replayed as five micro-batches. */
  val Rows = 100000
  val Users = 1500
  val Days = 30
  val BatchRows = 20000
  val Watermark = "10 minutes"
  /** Longer than the whole replay, so no run is closed by a timeout until the flush. */
  val RunTimeoutMs: Long = 31L * 86400000L
  val FlushAfterMs: Long = RunTimeoutMs + 86400000L
  val SentinelUser = 0L

  final case class Outputs(
      tumble: Seq[(Long, Long, Long, Double)],
      sessions: Seq[(Long, Long, Long, Long)],
      runs: Seq[Segment])

  /** Differences between the streamed and the batch outputs. Windows and
    * sessions must match exactly except the window mean, which may differ in
    * the last bits because partial sums are added in another order. The
    * batch run never closes a user's last run (batch state has no timeout),
    * so the stream must emit the batch runs plus exactly one closing run per
    * user, and its runs must account for every event once.
    */
  def problems(got: Outputs, want: Outputs, users: Int, events: Long): Seq[String] = {
    val out = Seq.newBuilder[String]
    val gotT = got.tumble.map(t => (t._1, t._2) -> t).toMap
    val wantT = want.tumble.map(t => (t._1, t._2) -> t).toMap
    if (gotT.keySet != wantT.keySet)
      out += s"tumbling windows: ${gotT.size} streamed, ${wantT.size} in batch"
    val badT = wantT.count { case (k, w) =>
      gotT.get(k).forall(g => g._3 != w._3 || math.abs(g._4 - w._4) > 1e-9 * math.max(1.0, math.abs(w._4)))
    }
    if (badT > 0) out += s"$badT tumbling windows differ in count or mean"
    if (got.sessions.sorted != want.sessions.sorted)
      out += s"sessions: ${got.sessions.size} streamed, ${want.sessions.size} in batch"
    val extra = got.runs.diff(want.runs)
    if (want.runs.diff(got.runs).nonEmpty) out += "a batch run is missing from the stream"
    if (extra.map(_.user).distinct.size != users || extra.size != users)
      out += s"${extra.size} closing runs for $users users"
    if (got.runs.map(_.n).sum != events)
      out += s"runs hold ${got.runs.map(_.n).sum} events, the stream had $events"
    out.result()
  }
}
