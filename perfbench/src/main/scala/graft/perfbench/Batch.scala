package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.apps.Apps
import graft.ops._

/** The two closed-loop batch workloads: one caller runs the workload's ops
  * back to back, the first pass in a fresh JVM, then cold passes over
  * input sets the JVM has not read yet (if any), then warm passes.
  * Every op writes its result as parquet (the job's sink), so the outputs
  * the run measured are the outputs the checks read. */
final class Batch(spark: SparkSession, data: String, tracer: Tracer) {
  type Op = (String, (SparkSession, String) => DataFrame)

  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var opSeq = 0

  /** Run every op once over the input set in `input`; returns the pass's
    * wall time. The memo builds the pass paid are recorded with it. */
  def pass(phase: String, ops: Seq[Op], input: String, outDir: String,
      traced: Boolean, layer: String): Double = {
    MemoLedger.drain()
    val t0 = System.nanoTime()
    val results = tracer.spanIf(traced, s"pass.$phase", "pass", 0)(ops.map { case (name, fn) =>
      opSeq += 1
      val s0 = System.nanoTime()
      val error =
        try {
          if (traced) tracer.span(s"$layer.$name", layer, opSeq) {
            val df = fn(spark, input)
            tracer.span("engine.plan", "engine", opSeq) {
              val (shuffles, broadcasts) = Plans.exchanges(df)
              tracer.note("exchanges", shuffles + broadcasts)
              tracer.note("broadcasts", broadcasts)
            }
            df.write.mode("overwrite").parquet(s"$outDir/$name")
          }
          else fn(spark, input).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            Some(String.valueOf(e.getMessage).take(300))
        }
      Map("name" -> name, "s" -> (System.nanoTime() - s0) / 1e9,
        "ok" -> error.isEmpty, "error" -> error.getOrElse(""))
    })
    val seconds = (System.nanoTime() - t0) / 1e9
    val memo = MemoLedger.drain().map { case (n, s) => Map("name" -> n, "s" -> s) }
    passes += Map("phase" -> phase, "traced" -> traced, "s" -> seconds,
      "input" -> input, "out" -> outDir, "ops" -> results, "memo" -> memo)
    seconds
  }

  def allPasses: Seq[Map[String, Any]] = passes.toSeq

  /** Traced walk down the warehouse layers, each layer's public functions
    * called on the materialized output of the layer before it, so the self
    * time of every span belongs to one layer. */
  def ladder(): Unit = tracer.span("pass.ladder", "pass", 0) {
    val op = { opSeq += 1; opSeq }
    def mat(name: String, layer: String)(build: => DataFrame): DataFrame =
      tracer.span(s"$layer.$name", layer, op) {
        val df = build
        tracer.span("engine.plan", "engine", op) {
          val (shuffles, broadcasts) = Plans.exchanges(df)
          tracer.note("exchanges", shuffles + broadcasts)
          tracer.note("broadcasts", broadcasts)
        }
        val out = df.localCheckpoint(eager = true)
        tracer.note("rows_out", out.count())
        out
      }
    val t = Tables.names.filter(_ != "embeddings").map(n =>
      n -> mat(n, "tables")(Tables.load(spark, data, n))).toMap
    val ev = t("events")
    val rowsIn = ev.count()
    val required = Seq("click", "view", "purchase")
    val valid = mat("parseValidate", "etl")(Etl.parseValidate(ev, required))
    tracer.span("etl.rejects", "etl", op) {
      val rejects = mat("parseRejects", "etl")(Etl.parseRejects(ev, required))
      tracer.note("rows_in", rowsIn)
      tracer.note("rejects", rejects.count())
    }
    val env = mat("toCdcEnvelope", "etl")(Etl.toCdcEnvelope(ev))
    mat("cdcFilter", "etl")(
      Etl.cdcFilter(env, "gmall", "cart_info", Seq("insert", "update")))
    mat("pruneColumns", "etl")(Etl.pruneColumns(env, Map(
      "user_info" -> Seq("id", "user_id"), "order_info" -> Seq("id", "amount"))))
    mat("statusTransition", "etl")(Etl.statusTransition(ev, "purchase", "error"))
    mat("deltaVsPrevious", "etl")(Etl.deltaVsPrevious(ev))
    val legs = Splits.splitLog(ev).toSeq.sortBy(_._1).map { case (leg, df) =>
      leg -> mat(s"splitLog.$leg", "splits")(df)
    }.toMap
    mat("routeByConfig", "splits")(
      Splits.routeByConfig(valid, Splits.defaultRouteConfig(spark)))
    val page = legs("page")
    mat("lookupRegionName", "joins")(Joins.lookupRegionName(page, t("region")))
    mat("purchasesWithRecentSignup", "joins")(Joins.purchasesWithRecentSignup(ev))
    mat("snowflakeEnrich", "joins")(Joins.snowflakeEnrich(
      t("orders"), t("customer"), t("nation"), t("region")))
    mat("revenueByRegion", "joins")(Joins.revenueByRegion(
      t("lineitem"), t("orders"), t("customer"), t("nation"), t("region")))
    mat("firstEventOfDay", "aggs")(Aggs.firstEventOfDay(page))
    mat("dailyUniqueUsers", "aggs")(Aggs.dailyUniqueUsers(page))
    mat("globalDailyStats", "aggs")(Aggs.globalDailyStats(legs("start")))
    mat("keyedWindowStats", "aggs")(Aggs.keyedWindowStats(ev))
    mat("userFirstSeen", "aggs")(Aggs.userFirstSeen(ev))
    mat("keywordDailyCounts", "aggs")(Aggs.keywordDailyCounts(t("documents")))
    ()
  }
}

object Batch {
  /** dws_batch: the 11 DWS-layer reference jobs, in a fixed order. Each
    * reads the ODS tables and runs the ODS -> DIM -> DWD -> DWS chain
    * itself. The 9 DIM/DWD jobs are left out to keep a run inside the
    * benchmark's time budget; the layer ladder still times the functions
    * they are built from. */
  val dwsOps: Seq[(String, (SparkSession, String) => DataFrame)] =
    Apps.all.toSeq.filter(_._1.startsWith("Dws")).sortBy(_._1)

  /** Jobs whose body is the same call as a SparkEntry query, so that
    * query's DuckDB oracle covers the job's output. */
  val dwsOracles: Map[String, String] = Map(
    "DwsTradeProvinceOrderWindow" -> "j6_snowflake_enrich",
    "DwsTradeSkuOrderWindow" -> "j7_star_revenue_by_region",
    "DwsTradeOrderWindow" -> "a18_order_uu_new",
    "DwsTradePaymentSucWindow" -> "a19_paysuc_uu_new",
    "DwsTradeTrademarkCategoryUserRefundWindow" -> "j15_refund_window")

  /** curation_cold: queries that build a session-memoized substrate, and
    * consumers of the same memos, so the cold pass pays every build and
    * warm passes hit every memo. name -> the curation module it calls. */
  val curationFamilies: Seq[(String, String)] = Seq(
    "ml1_kmeans_assign" -> "clustering",
    "gr4_triangle_stats" -> "similarity",
    "d2_jaccard_pairs" -> "dedup",
    "e3_training_corpus" -> "pipeline")

  val curationOps: Seq[(String, (SparkSession, String) => DataFrame)] =
    curationFamilies.map { case (n, _) => n -> SparkEntry.queries(n) }
}
