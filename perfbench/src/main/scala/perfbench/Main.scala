package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

/** Benchmark JVM: runs one workload closed-loop (one client thread) for
  * the configured number of seconds and writes the raw measurements to
  * the file named in the config. All statistics and the correctness
  * gates that need DuckDB are computed by `perfbench/run.py` from that
  * file.
  *
  * Usage: `perfbench.Main <config.json>` (written by run.py). */
object Main {

  /** The result of one operation, timed by the workload itself so that
    * benchmark bookkeeping between layer calls stays out of `wallMs`. */
  final case class OpResult(wallMs: Double, parts: Map[String, Double],
      ok: Boolean = true, note: String = "", leakedPlans: Int = 0,
      leakedRdds: Int = 0)

  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = cfg.get("cpus").asInt()
    val work = cfg.get("work_dir").asText()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.ext.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.geospatial.enabled", "true")
      .config("spark.ui.enabled", "false")
      // keep Spark's own job and query history small and constant, so
      // the live heap measures the program rather than how many
      // operations the run happened to fit
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionReadyMs = System.currentTimeMillis()

    val out = run(spark, cfg)
    out.put("jvm_start_ms", jvmStartMs)
    out.put("session_ready_ms", sessionReadyMs)
    Files.write(Paths.get(cfg.get("out").asText()),
      mapper.writeValueAsString(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Set up, measure and finish one workload; returns the raw record. */
  def run(spark: SparkSession, cfg: JsonNode): java.util.Map[String, Any] = {
    val ctx = Ctx(spark, cfg, cfg.get("work_dir").asText())
    val w: Workload = cfg.get("workload").asText() match {
      case "mart_serving" => new MartServing(ctx)
      case "curation_ops" => new CurationOps(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up is repeated from scratch; the last repetition's tables
    // are the ones the warm-up and the measured phase use.
    val setupS = (0 until cfg.get("setup_reps").asInt()).map { r =>
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - t0) / 1e9

    val trace = cfg.get("trace").asBoolean()
    val tracer = new Tracer(spark, ctx.work)
    ctx.tracer = tracer
    val seconds = cfg.get("seconds").asDouble()
    val ops = Seq.newBuilder[java.util.Map[String, Any]]
    val tStart = System.nanoTime()
    val deadline = tStart + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      val r =
        try tracer.operation(i, trace, s"op.${w.name}")(w.op(i))
        catch {
          case e: Throwable =>
            OpResult((System.nanoTime() - t0) / 1e6, Map.empty, ok = false,
              e.toString.take(300))
        }
      val cached = org.apache.spark.sql.BenchAccess.cachedPlans(spark)
      val rdds = spark.sparkContext.getPersistentRDDs.size
      Ctx.release(spark)
      ops += jmap("id" -> i, "wall_ms" -> r.wallMs,
        "ok" -> r.ok, "note" -> r.note, "parts" -> jmap(r.parts.toSeq: _*),
        "leaked_cached_plans" -> (cached + r.leakedPlans),
        "leaked_rdds" -> (rdds + r.leakedRdds))
      i += 1
    }
    val measuredS = (System.nanoTime() - tStart) / 1e9
    // A full GC lets Spark's ContextCleaner drop broadcast and shuffle
    // state whose handles died, which frees more on the next GC: take
    // the smallest reading over a few GC rounds.
    val heap = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min

    val gate = w.finish()
    jmap(
      "workload" -> w.name,
      "setup_s" -> jlist(setupS),
      "warmup_s" -> warmupS,
      "measured_s" -> measuredS,
      "live_heap_mb" -> heap / 1048576.0,
      "ops" -> ops.result().asJava,
      "gate" -> gate,
      "trace" -> (if (trace) traceJson(tracer) else null))
  }

  private def traceJson(t: Tracer): java.util.Map[String, Any] = jmap(
    "spans" -> jlist(t.spans.toSeq.map(s => jmap("id" -> s.id,
      "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "tag" -> s.tag,
      "start_us" -> s.startUs, "end_us" -> s.endUs))),
    "jobs" -> jlist(t.jobs.toSeq.map(j => jmap("job" -> j.jobId,
      "span" -> j.span, "op" -> j.op, "start_us" -> j.startUs,
      "end_us" -> j.endUs, "stages" -> j.stages, "tasks" -> j.tasks,
      "failed_tasks" -> j.failedTasks, "run_ms" -> j.runMs,
      "cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
      "sched_delay_ms" -> j.schedDelayMs, "shuffle_read" -> j.shuffleRead,
      "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
      "input" -> j.input))),
    "plans" -> jlist(t.plans.toSeq.map(p => jmap("op" -> p.op,
      "parse_ms" -> p.parseMs, "analyze_ms" -> p.analyzeMs,
      "optimize_ms" -> p.optimizeMs, "plan_ms" -> p.planMs,
      "graft_rule_ns" -> p.graftRuleNs, "graft_rule_calls" -> p.graftRuleCalls,
      "graft_rule_effective" -> p.graftRuleEffective))),
    "log_ops" -> jmap(t.logOps.toSeq.map { case (op, (l, r)) =>
      op.toString -> jmap("lists" -> l, "reads" -> r) }: _*))

  def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def jlist(xs: Seq[Any]): java.util.List[Any] = xs.asJava

  /** A cell as JSON: numbers stay numbers, temporal values become ISO
    * strings, arrays and structs become lists. */
  def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => jlist(s.toSeq.map(cell))
    case r: Row => jlist(r.toSeq.map(cell))
    case f: Float => f.toDouble
    case x => x
  }

  /** Result rows as a JSON-ready table plus its canonical text, which is
    * what repeated results are compared by. */
  def table(columns: Seq[String], rows: Array[Row]): (java.util.Map[String, Any], String) = {
    val t = jmap("columns" -> jlist(columns),
      "rows" -> jlist(rows.toSeq.map(r => jlist(r.toSeq.map(cell)))))
    (t, mapper.writeValueAsString(t))
  }

  def textOf(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
}
