package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry}
import graft.graph.LabelSpreading

/** JVM side of the layered benchmark. `perfbench/run.py` generates the
  * inputs, starts this main, then checks the dumped outputs against DuckDB.
  *
  * {{{
  * Main run   <out> <cpus> <seed> <seconds> <setups> <workload=dir>...
  * Main trace <out> <cpus> <seed>                     <workload=dir>...
  * }}}
  *
  * `run` measures each named workload in turn: `setups` times a fresh
  * `Graft.session` plus one warm-up pass, then timed passes to the `noop`
  * sink for `seconds` (at least two; none if `seconds` is 0, which only
  * loads classes for the build's archive). The warm-up passes write the query
  * outputs the checker reads, under `<out>/check/<workload>`. `trace` needs
  * all three workloads: one warm-up pass and one traced pass of each, then
  * the graph steps and the scans; it writes the per-layer metrics and
  * `spans.json`. Both write `result.json` into `<out>`.
  */
object Main {

  private final class Tally {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def toMap: Map[String, Any] =
      Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq)
  }

  private val MinPasses = 2

  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val out = args(1)
    val cpus = args(2).toInt
    val seed = args(3).toLong
    val rest = args.drop(if (mode == "run") 6 else 4)
    val inputs = rest.map { a => val Array(w, d) = a.split("=", 2); w -> d }
    Files.createDirectories(Paths.get(out))
    val result = mode match {
      case "run" => Map("workloads" -> inputs.map { case (w, dir) =>
        w -> measure(w, dir, seed, cpus, args(4).toDouble, args(5).toInt, out) }.toMap)
      case "trace" => trace(inputs.toMap, seed, cpus, out)
    }
    write(s"$out/result.json", Json.render(result + ("oracle_sql" -> SparkEntry.oracleSql)))
  }

  private def write(path: String, s: String): Unit = Files.writeString(Paths.get(path), s)

  private def newSession(cpus: Int): SparkSession = Graft.session(s"local[$cpus]", cpus)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Build and sink one query; an exception is counted, never rethrown. */
  private def invoke(q: Query, spark: SparkSession, dir: String, tally: Tally)
                    (sink: DataFrame => Unit): Unit = {
    tally.attempted += 1
    try sink(q.build(spark, dir))
    catch {
      case NonFatal(e) =>
        tally.failed += 1
        tally.errors += s"${q.id}: ${e.toString.take(300)}"
        System.err.println(s"[perfbench] ${q.id} failed: $e")
    }
  }

  private def dumpTo(out: String, w: String, dump: String, q: Query)(df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$out/check/$w/$dump/${q.id}")

  /** Sink every query of a pass into `<out>/check/<w>/<dump>/<id>` as
    * parquet: the untimed warm-up passes double as the output check. */
  private def dumpPass(w: String, qs: Seq[Query], spark: SparkSession, dir: String,
                       out: String, dump: String, tally: Tally): Unit =
    qs.foreach(q => invoke(q, spark, dir, tally)(dumpTo(out, w, dump, q)))

  /** The dumps the checker reads: every query from the `last` warm-up, and
    * approx_spread also from the `first` (its two outputs must agree). */
  private def checkList(w: String, qs: Seq[Query], dir: String, out: String,
                        first: String, last: String): Seq[Map[String, Any]] = {
    def entry(q: Query, id: String, dump: String) = Map("workload" -> w, "id" -> id,
      "oracle" -> q.oracleName, "path" -> s"$out/check/$w/$dump/${q.id}", "data" -> dir)
    qs.map(q => entry(q, q.id, last)) ++
      qs.filter(_.id == "approx_spread").map(q => entry(q, q.id + ".again", first))
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def measure(w: String, dir: String, seed: Long, cpus: Int, seconds: Double,
                      setups: Int, out: String): Map[String, Any] = {
    val qs = Workloads(w, seed)
    val tally = new Tally
    var spark: SparkSession = null
    val setupS = (1 to setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(cpus)
      dumpPass(w, qs, spark, dir, out, s"setup$i", tally)
      secondsSince(t0)
    }
    val rows = qs.flatMap(_.tables).distinct
      .map(t => t -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap
    val rowsPerPass = qs.flatMap(_.tables).map(rows).sum

    val passS = mutable.ArrayBuffer.empty[Double]
    val cpuS = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (seconds > 0 && (passS.size < MinPasses || secondsSince(t0) < seconds)) {
      val c0 = cpuBean.getProcessCpuTime
      val p0 = System.nanoTime()
      qs.foreach(q => invoke(q, spark, dir, tally)(noop))
      passS += secondsSince(p0)
      cpuS += (cpuBean.getProcessCpuTime - c0) / 1e9
    }
    val checks = checkList(w, qs, dir, out, "setup1", s"setup$setups")
    spark.stop()
    Map("queries" -> qs.map(_.id), "setup_s" -> setupS, "pass_s" -> passS.toSeq,
      "cpu_s" -> cpuS.toSeq, "rows_per_pass" -> rowsPerPass, "peak_rss_mb" -> peakRssMb(),
      "checks" -> checks) ++ tally.toMap
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Candidate pairs `knnEdgesApprox` scored: the mirror explode (output
    * column `m`) emits two rows per scored pair. Read from the executed
    * plan's SQL metrics after the DataFrame has run; -1 (and useful_frac -1)
    * if the plan no longer has that node. */
  private def candidatePairs(df: DataFrame): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collectFirst {
      case g: GenerateExec if g.output.exists(_.name == "m") => g.metrics("numOutputRows").value / 2
    }.getOrElse(-1L)
  }

  private def trace(inputs: Map[String, String], seed: Long, cpus: Int,
                    out: String): Map[String, Any] = {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val tally = new Tally
    val t0 = System.nanoTime()
    val spark = newSession(cpus)
    metrics("graft.session_s") = secondsSince(t0)
    val c = new Collector(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    val lsDir = inputs("label_spread")
    val tdDir = inputs("text_dedup")
    val relDir = inputs("relational")

    // graft.expr, on samples of the workloads' own inputs
    val vectors = Graft.table(spark, lsDir, "embeddings").select("embedding").limit(256)
      .collect().map(_.getSeq[Float](0).toArray)
    val docs = Graft.table(spark, tdDir, "documents").select("text").limit(256)
      .collect().map(_.getString(0))
    c.span("kernels") { metrics ++= Kernels.run(vectors, docs) }

    val wls = Workloads.Names.map(w => (w, Workloads(w, seed), inputs(w)))
    metrics("graft.warmup_s") = c.span("warmup") {
      val w0 = System.nanoTime()
      wls.foreach { case (w, qs, dir) =>
        c.span(s"warmup/$w") { dumpPass(w, qs, spark, dir, out, "warmup", tally) } }
      secondsSince(w0)
    }

    // graft.queries: each query in its own span, in one traced pass.
    // approx_spread's output (2,000 rows) is written as its second dump, which
    // the checker compares with the warm-up's; the other queries go to noop.
    for ((w, qs, dir) <- wls)
      c.span(s"pass/$w", 1) {
        qs.foreach { q =>
          val sink: DataFrame => Unit = if (q.id == "approx_spread") dumpTo(out, w, "again", q) else noop
          c.span(s"query/${q.id}", 1) { invoke(q, spark, dir, tally)(sink) }
        }
      }
    def only(name: String) = c.spans.find(_.name == name).get
    val tracedPassS = wls.map { case (w, _, _) => w -> only(s"pass/$w").seconds }.toMap
    for ((_, qs, _) <- wls; q <- qs) {
      val s = only(s"query/${q.id}")
      val tot = c.total(s.id)
      metrics(s"${q.id}.wall_s") = s.seconds
      metrics(s"${q.id}.plan_s") = tot.planMs / 1e3
      metrics(s"${q.id}.jobs") = tot.jobs.toDouble
      metrics(s"${q.id}.driver_gap_s") = c.driverGapSeconds(s)
      metrics(s"${q.id}.task_cpu_s") = tot.taskCpuNs / 1e9
      metrics(s"${q.id}.shuffle_mb") = tot.shuffleWrite / 1e6
    }

    // graft.graph: each public function's output materialized before the
    // next call, so every span is that function's own time
    val e = Graft.table(spark, lsDir, "embeddings")
    val y = Workloads.seeds(e)
    val exact = c.span("graph/knnEdges", 1) {
      LabelSpreading.knnEdges(e, "vec_id", "embedding", Workloads.K).localCheckpoint() }
    val (approxPlan, approx) = c.span("graph/knnEdgesApprox", 1) {
      val d = LabelSpreading.knnEdgesApprox(e, "vec_id", "embedding", Workloads.K)
      (d, d.localCheckpoint())
    }
    val sEdges = c.span("graph/normalizedEdges", 1) {
      LabelSpreading.normalizedEdges(exact).localCheckpoint() }
    val f5 = c.span("graph/spread", 1) {
      LabelSpreading.spread(sEdges, y, "vec_id", Workloads.Alpha, Workloads.Iters) }
    for (step <- Seq("knnEdges", "knnEdgesApprox", "normalizedEdges", "spread"))
      metrics(s"graph.${step}_s") = c.selfSeconds(only(s"graph/$step"))
    metrics("graph.spread.jobs") = c.total(only("graph/spread").id).jobs.toDouble

    // health: approximate vs exact k-NN, spread residual at the last iteration
    def edgeSet(df: DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactE = edgeSet(exact)
    val approxE = edgeSet(approx)
    val hits = (approxE intersect exactE).size.toDouble
    val cand = candidatePairs(approxPlan)
    metrics("graph.knnApprox.candidate_pairs") = cand.toDouble
    metrics("graph.knnApprox.recall_at_k") = hits / exactE.size
    metrics("graph.knnApprox.useful_frac") = if (cand > 0) hits / cand else -1.0
    val f4 = LabelSpreading.spread(sEdges, y, "vec_id", Workloads.Alpha, Workloads.Iters - 1)
    metrics("graph.spread.delta_last") = f5.as("a").join(f4.as("b"), "vec_id")
      .select(max(greatest(abs(col("a.f1") - col("b.f1")), abs(col("a.f0") - col("b.f0")))))
      .first().getDouble(0)

    // graft: Graft.table + noop per table
    val scanDirs = Seq("lineitem" -> relDir, "orders" -> relDir, "customer" -> relDir,
      "events" -> relDir, "embeddings" -> lsDir, "documents" -> tdDir)
    for ((t, dir) <- scanDirs)
      metrics(s"graft.scan_s.$t") = median((1 to 3).map { p =>
        c.span(s"scan/$t", p) { noop(Graft.table(spark, dir, t)) }
        c.spans.last.seconds
      })

    val checks = wls.flatMap { case (w, qs, dir) => checkList(w, qs, dir, out, "again", "warmup") }
    checks.find(_("id") == "q17").foreach { ck =>
      val r = spark.read.parquet(ck("path").toString)
        .agg(count(lit(1)), coalesce(sum(col("near_dup")), lit(0L))).first()
      metrics("q17.candidate_pairs") = r.getLong(0).toDouble
      metrics("q17.near_dup_frac") = if (r.getLong(0) > 0) r.getLong(1).toDouble / r.getLong(0) else 0.0
    }

    write(s"$out/spans.json", c.spansJson)
    spark.stop()
    Map("metrics" -> metrics, "traced_pass_s" -> tracedPassS, "checks" -> checks,
      "peak_rss_mb" -> peakRssMb()) ++ tally.toMap
  }
}
