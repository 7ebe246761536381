package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** JVM side of the benchmark: runs one workload over inputs that run.py
  * generated, and writes raw measurements to `<work>/result.json`. run.py
  * turns them into metrics and checks the outputs.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *   [--fresh DIR1,DIR2,..] (input sets for cold passes, curation_cold)
  *   [--rates R1,R2,.. --warmup S --seed N] (the last three for dwd_stream) */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val fresh = opt.get("fresh").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val heap = new HeapMonitor
    val cpus = Runtime.getRuntime.availableProcessors
    val conf = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    val spark = conf.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    val readyMs = System.currentTimeMillis()
    val listener = if (traced) Some(new EngineListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext, listener)

    val result: Map[String, Any] = workload match {
      case "dws_batch" =>
        runBatch(spark, data, Nil, work, tracer, seconds, Batch.dwsOps,
          "apps", ladder = true,
          Batch.dwsOracles.map { case (job, q) => job -> SparkEntry.oracleSql(q) })
      case "curation_cold" =>
        runBatch(spark, data, fresh, work, tracer, seconds,
          Batch.curationOps, "curation", ladder = false,
          Batch.curationOps.flatMap { case (q, _) =>
            SparkEntry.oracleSql.get(q).map(q -> _) }.toMap) +
          ("families" -> Batch.curationFamilies.toMap)
      case "dwd_stream" =>
        new Stream(spark, data, work, tracer, seconds, opt).run()
      case other => sys.error(s"unknown workload $other")
    }
    val (spans, unattributed) = tracer.drain()
    val out = result ++ Map(
      "workload" -> workload,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "ready_ms" -> readyMs,
      "cpus" -> cpus,
      "spark_conf" -> conf.toMap,
      "heap_peak_mb" -> heap.peakMb,
      "spans" -> spans, "engine_unattributed" -> unattributed)
    heap.close()
    spark.stop()
    Json.write(s"$work/result.json", out)
  }

  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)

  private def runBatch(spark: SparkSession, data: String, fresh: Seq[String],
      work: String, tracer: Tracer, seconds: Double,
      ops: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      layer: String, ladder: Boolean,
      oracle: Map[String, String]): Map[String, Any] = {
    val b = new Batch(spark, data, tracer)
    // The first pass runs in the fresh JVM. With no fresh input sets it is
    // the cold pass; otherwise it only warms the engine, and every input
    // set the JVM has not read yet gives one cold pass: nothing of it is
    // memoized or cached, without any in-process clearing.
    b.pass(if (fresh.isEmpty) "cold" else "first", ops, data,
      s"$work/out/first", tracer.enabled, layer)
    fresh.zipWithIndex.foreach { case (dir, i) =>
      b.pass("cold", ops, dir, s"$work/out/cold$i", tracer.enabled, layer)
    }
    // Warm passes take turns over the input sets the cold passes built
    // (set 0 when there were none), so no one set's share of the work sets
    // the warm figures. One untimed pass over each set comes first: JIT
    // compilation is still settling in it, and after cold passes over
    // fresh sets it is the first to take that set's memo-hit path.
    val hot = if (fresh.isEmpty) Seq(data) else fresh
    def out(dir: String) = s"$work/out/warm-${new java.io.File(dir).getName}"
    hot.foreach(d => b.pass("warmup", ops, d, out(d), traced = false, layer))
    // Warm passes fill the measured time without overrunning it: at least
    // one, and no pass starts that the last one says would end past it.
    // Traced runs interleave untraced and traced warm passes in ABBA order
    // (two pairs at least), so JIT warming through the run cancels out of
    // the tracing overhead.
    val t0 = System.nanoTime()
    var last = 0.0
    var pairs = 0
    do {
      val dir = hot(pairs % hot.size)
      val order = if (pairs % 2 == 0) Seq(false, true) else Seq(true, false)
      order.foreach { traced =>
        if (traced) { if (tracer.enabled) b.pass("traced", ops, dir, out(dir), traced = true, layer) }
        else last = b.pass("warm", ops, dir, out(dir), traced = false, layer)
      }
      pairs += 1
    } while ((System.nanoTime() - t0) / 1e9 + last <= seconds ||
      (tracer.enabled && pairs < 2))
    val cached = cachedMb(spark)
    if (ladder && tracer.enabled) b.ladder()
    Map("passes" -> b.allPasses, "cached_mb" -> cached,
      "ops" -> ops.map(_._1), "oracle" -> oracle)
  }
}
