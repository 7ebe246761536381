package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.{Stateful, Streams}
import graft.streaming.Stateful.Event

/** dwd_stream: an open loop. One generator thread replays the seeded event
  * log into MemoryStreams on a fixed schedule, at each rate of a ladder,
  * while three streaming queries consume it:
  *
  *  - dws_window: `Streams.windowedTypeCounts` into `Streams.txnSink`
  *    (keyed window state, transactional append sink);
  *  - dim_upsert: latest event per user into `Streams.upsertSink` (the DIM
  *    keyed upsert; the user id is the sink's key column);
  *  - dwd_uu: `Stateful.firstEventOfDay` into `Streams.txnSink` (per-user
  *    GroupState).
  *
  * Event k of the replay gets event id k and event time t0 + k seconds,
  * its fields cycle through the generated log, so the replay never runs
  * out. Arrival order is shuffled inside aligned blocks of 8 events, so
  * disorder is at most 7 s of event time: inside the 15 s watermark, and a
  * block never straddles midnight. After the ladder the queries drain all
  * delivered events; the window sink then holds every window that ends at
  * or before the last watermark. Each event is due at a fixed instant of
  * its rung; its latency runs from that instant to the commit of the
  * micro-batch that consumed it, the last of the three queries to do so. */
final class Stream(spark: SparkSession, data: String, work: String,
    tracer: Tracer, seconds: Double, opt: Map[String, String]) {
  import spark.implicits._

  private val block = 8
  private val rates = opt("rates").split(",").map(_.toDouble).toSeq
  private val warmupSeconds = opt("warmup").toDouble
  private val seed = opt("seed").toLong
  private val dir = s"$work/stream"

  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val state = p.stateOperators.toSeq
      progress.add(Map(
        "query" -> p.name, "batch" -> p.batchId,
        "end_offset" -> p.sources.headOption.map(_.endOffset).filter(_ != null)
          .map(o => o.trim.toLong).getOrElse(-1L),
        "start_ms" -> startMs,
        "commit_ms" -> (startMs + d.getOrElse("triggerExecution", 0L)),
        "rows" -> p.numInputRows, "durations" -> d,
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_bytes" -> state.map(_.memoryUsedBytes).sum,
        "late_dropped" -> state.map(_.numRowsDroppedByWatermark).sum,
        // the watermark this batch evicted (and so emitted) windows by
        "watermark_ms" -> Option(p.eventTime.get("watermark"))
          .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(-1L)))
    }
  }

  def run(): Map[String, Any] = {
    // the replay source gen.py wrote beside the tables: a midnight, then
    // user_id, event_type, value per event
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$data/replay.tsv")).asScala
    val t0Ms = lines.head.trim.toLong
    val src = lines.tail.filter(_.nonEmpty).map { l =>
      val Array(u, t, v) = l.split("\t")
      (u.toLong, t, v.toDouble)
    }.toArray
    val rng = new scala.util.Random(seed)
    val perms = Array.fill(64)(rng.shuffle((0 until block).toVector).toArray)
    def event(slot: Long): Event = {
      val g = slot - slot % block + perms((slot / block % perms.length).toInt)((slot % block).toInt)
      val (u, t, v) = src((g % src.length).toInt)
      Event(g, new java.sql.Timestamp(t0Ms + g * 1000L), u, t, v)
    }

    spark.streams.addListener(listener)
    // A MemoryStream trims what its reader commits, so each query reads its
    // own copy; every chunk goes to all three, so offset k is the same
    // chunk in each. Without a partition count a MemoryStream makes one
    // input partition per chunk, and a micro-batch of hundreds of chunks
    // would be scheduled as hundreds of tasks.
    val parts = Some(spark.sparkContext.defaultParallelism)
    val sources = Seq.tabulate(3)(i => MemoryStream[Event](1 + i, spark, parts))
    val Seq(win, dim, uu) = sources.map(_.toDF())
    val startMs = System.currentTimeMillis()
    val queries: Seq[StreamingQuery] = Seq(
      Streams.txnSink(Streams.windowedTypeCounts(win), s"$dir/window")
        .option("checkpointLocation", s"$dir/ck/window")
        .queryName("dws_window").start(),
      Streams.upsertSink(dim.select(col("user_id").as("event_id"), col("ts"),
          col("event_type"), col("value")), s"$dir/dim")
        .option("checkpointLocation", s"$dir/ck/dim")
        .queryName("dim_upsert").start(),
      Streams.txnSink(Stateful.firstEventOfDay(uu.as[Event]).toDF(), s"$dir/uu")
        .option("checkpointLocation", s"$dir/ck/uu")
        .queryName("dwd_uu").start())
    def add(batch: Seq[Event]): Long = sources.map(_.addData(batch)
      .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset]
      .offset).max

    val chunks = mutable.ArrayBuffer.empty[Map[String, Any]]
    var slot = 0L

    /** Emit `rate` events per second for `secs` seconds on a fixed schedule.
      * The next rung starts right away: draining in between would add idle
      * time to every run, and a rung that leaves a backlog shows it in its
      * own latencies. */
    def rung(name: String, rate: Double, secs: Double): Map[String, Any] = {
      val total = (rate * secs).toLong / block * block
      val first = slot
      val rungStartMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      var emitted = 0L
      while (emitted < total) {
        val nowNs = System.nanoTime()
        val due = math.min(total, ((nowNs - startNs) / 1e9 * rate).toLong + 1)
        if (due > emitted) {
          val batch = (emitted until due).map(i => event(first + i))
          val off = add(batch)
          val addedNs = System.nanoTime()
          // lag: how late the earliest event of the chunk was handed over
          val lag = (addedNs - startNs) / 1e6 - emitted * 1000.0 / rate
          chunks += Map("rung" -> name, "offset" -> off, "first" -> emitted,
            "count" -> (due - emitted), "lag_ms" -> lag)
          emitted = due
        }
        val nextDueNs = startNs + (emitted * 1e9 / rate).toLong
        val sleepNs = math.min(nextDueNs - System.nanoTime(), 5000000L)
        if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
      }
      slot += total
      Map("name" -> name, "rate" -> rate, "seconds" -> secs,
        "start_ms" -> rungStartMs, "events" -> total,
        "emit_s" -> (System.nanoTime() - startNs) / 1e9)
    }

    def drain(): Unit = queries.foreach(_.processAllAvailable())
    val rungs = mutable.ArrayBuffer.empty[Map[String, Any]]
    rungs += rung("warmup", rates.head, warmupSeconds)
    drain()
    val names = Seq("base") ++ rates.indices.drop(1).dropRight(1).map(i => s"r$i") ++
      (if (rates.size > 1) Seq("peak") else Nil)
    rates.zip(names).foreach { case (r, n) =>
      rungs += rung(n, r, seconds / rates.size)
    }
    // Traced runs repeat the base rung with the engine listener detached;
    // the trigger-time difference between the two is the tracing overhead.
    if (tracer.enabled) {
      drain()
      rungs += tracer.paused(rung("base_untraced", rates.head, seconds / rates.size))
    }

    val drainMs = System.currentTimeMillis()
    drain()
    queries.foreach(_.stop())
    spark.streams.removeListener(listener)
    org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(spark.sparkContext)

    val dumpMs = System.currentTimeMillis()
    val check = s"$work/check"
    // rebuilt from the schedule rather than kept, so the benchmark's own
    // copy of the events never sits in the heap it measures
    (0L until slot).map(event).toDS().write.mode("overwrite").parquet(s"$check/delivered")
    Streams.readCommitted(spark, s"$dir/window").get.drop("bid")
      .write.mode("overwrite").parquet(s"$check/window")
    Streams.readCommitted(spark, s"$dir/uu").get.drop("bid")
      .write.mode("overwrite").parquet(s"$check/uu")
    spark.read.parquet(s"$dir/dim").write.mode("overwrite").parquet(s"$check/dim")
    val sinkFiles = Seq("window", "uu", "dim").map { s =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/$s")).iterator.asScala
        .count(_.toString.endsWith(".parquet"))
    }.sum

    Map("start_ms" -> startMs, "drain_ms" -> drainMs, "dump_ms" -> dumpMs,
      "end_ms" -> System.currentTimeMillis(),
      "rungs" -> rungs.toSeq, "chunks" -> chunks.toSeq,
      "progress" -> progress.asScala.toSeq,
      "sink_files" -> sinkFiles, "delivered" -> slot,
      "queries" -> queries.map(_.name),
      "outputs" -> Map("check" -> check))
  }
}
