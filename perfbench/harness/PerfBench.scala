package perfbench

import graft.{Sessions, Tables}
import graft.app.Main
import graft.clean.Cleaner
import graft.io.{Sinks, Volumetry}
import graft.operators.{StarSchema, Validator}
import graft.queries.{GQuery, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** JVM side of the benchmark (perfbench/run.py drives it and turns the
  * result file into metrics). One process, one client thread, closed
  * loop: each timed call starts when the previous one has returned.
  *
  * Usage:
  *   perfbench.PerfBench run <workload> <bronzeDir> <workDir> <seed>
  *     <seconds> <trace 0|1> <launchEpochMs> <result.json> <query,...>
  *   perfbench.PerfBench oracle-sql <out.json>
  *
  * Workloads:
  *  - medallion_load: `Main.run` into an empty output dir on a fresh
  *    child session every pass, so the per-session `StarSchema.build`
  *    memo never serves a pass.
  *  - lake_queries: the named queries one at a time in one long-lived
  *    session, each timed as plan (`q.run`) plus execute
  *    (noop write). `graft.Bench` starts its clock after `q.run`, so it
  *    misses the eager jobs (checkpoints) that run while a query's
  *    DataFrame is built; this harness does not.
  *
  * A pass is one `Main.run`, or one sweep over the queries. Pass 0 is
  * the cold pass; at least two steady passes follow, and more until
  * `seconds` have elapsed.
  * With tracing on, steady passes alternate untraced / traced so the
  * tracing overhead is measured inside the same run.
  */
object PerfBench {
  private val TagPrefix = "pb:"
  private val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow(): Double = cpuBean.getProcessCpuTime / 1e9

  /** Tags the jobs of a span and keeps its wall interval; a no-op apart
    * from the clock when the span is untraced. */
  final class Tracer(spark: SparkSession) {
    val listener = new TagListener(TagPrefix)
    private var attached = false
    val spans = ArrayBuffer.empty[Object]

    /** Adds or removes the listener, draining the bus first so no
      * event crosses the switch. */
    def attach(on: Boolean): Unit = if (on != attached) {
      val sc = spark.sparkContext
      org.apache.spark.PerfbenchBusDrain(sc)
      if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
      attached = on
    }

    def span[A](name: String, traced: Boolean)(f: => A): (A, Double) = {
      val sc = spark.sparkContext
      val tag = TagPrefix + name
      if (traced) sc.addJobTag(tag)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      } finally {
        if (traced) {
          sc.removeJobTag(tag)
          spans += Json.obj("tag" -> tag, "start_ms" -> startMs,
            "end_ms" -> System.currentTimeMillis(), "s" -> (System.nanoTime() - t0) / 1e9)
        }
      }
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def errorOf(t: Try[_]): String = t match {
    case Failure(e) => String.valueOf(e.getMessage).take(300)
    case _ => null
  }

  /** Cold pass, then at least two steady passes, more until `seconds`
    * have elapsed. A traced run alternates untraced / traced steady
    * passes and runs at least three, so the traced pass sits between two
    * untraced ones and the warm-up trend cancels out of the overhead. */
  private def passes(seconds: Int, trace: Boolean, tracer: Tracer)
      (run: (Int, Boolean) => Unit): Unit = {
    // each pass starts from a collected heap, so garbage of the previous
    // pass is not billed to it
    def pass(i: Int, traced: Boolean): Unit = { System.gc(); run(i, traced) }
    pass(0, trace)
    val t0 = System.nanoTime()
    var i = 1
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i <= (if (trace) 3 else 2) || elapsed < seconds) {
      val traced = trace && i % 2 == 0
      tracer.attach(traced)
      pass(i, traced)
      i += 1
    }
    tracer.attach(trace)
  }

  def medallionLoad(spark: SparkSession, tracer: Tracer, bronze: String, work: String,
      seconds: Int, trace: Boolean): (ArrayBuffer[Object], Object) = {
    val ops = ArrayBuffer.empty[Object]
    passes(seconds, trace, tracer) { (i, traced) =>
      val out = s"$work/pass$i"
      val session = spark.newSession()
      val c0 = cpuNow()
      val startMs = System.currentTimeMillis()
      val (res, secs) = tracer.span(s"app#$i", traced)(Try(Main.run(session, bronze, out)))
      ops += Json.obj("kind" -> "pass", "pass" -> i, "traced" -> traced,
        "start_ms" -> startMs, "wall_s" -> secs, "cpu_s" -> (cpuNow() - c0),
        "ok" -> res.isSuccess, "violations" -> res.getOrElse(-1L),
        "error" -> errorOf(res), "out" -> out)
    }
    val iso = if (trace) isolationPass(spark, tracer, bronze, s"$work/iso") else null
    (ops, iso)
  }

  private def gold(out: String, name: String) = s"$out/gold/$name"

  private def parquetFiles(dir: String): Int = {
    val d = new java.io.File(dir)
    if (d.isDirectory) d.listFiles().map(f =>
      if (f.isDirectory) parquetFiles(f.getPath)
      else if (f.getName.endsWith(".parquet")) 1 else 0).sum
    else 0
  }

  /** The layers `Main.run` composes, called one after another on a
    * fresh child session so each span holds one layer's jobs alone.
    * run.py checks that this pass writes the same gold as `Main.run`.
    * The final `io.merge` span re-loads the same bronze over the
    * committed gold, the anti-join branch of `Sinks.parquetAppendNew`
    * that a re-run of `Main` takes. */
  def isolationPass(spark: SparkSession, tracer: Tracer, bronze: String,
      out: String): Object = {
    val iso = spark.newSession()
    def span[A](name: String)(f: => A): A = tracer.span(name, traced = true)(f)._1
    span("clean.events")(Sinks.parquet(Cleaner.cleanEvents(Tables.events(iso, bronze)),
      s"$out/silver/events"))
    span("clean.documents")(Sinks.parquet(
      Cleaner.cleanDocuments()(Tables.documents(iso, bronze)), s"$out/silver/documents"))
    // build reads the bronze schemas with jobs of its own, so it sits
    // inside the span
    val star = span("operators.star_compute") {
      val s = StarSchema.build(iso, bronze)
      StarSchema.tableNames.foreach(n => noop(s(n)))
      s
    }
    StarSchema.tableNames.foreach { n =>
      span(s"io.gold.$n")(Sinks.parquetAppendNew(star(n), gold(out, n),
        StarSchema.mergeKeys(n), StarSchema.partitionSpec(n)))
    }
    val rows = span("operators.validate")(Validator.reportBranches(
      n => iso.read.parquet(gold(out, n))).flatMap(_._2().collect()))
    val violations = rows.count(r => r.isNullAt(1) || r.getLong(1) != 0L)
    span("io.volumetry")(Volumetry.reportJson(iso, bronze))
    val filesBefore = parquetFiles(s"$out/gold")
    span("io.merge") {
      val reload = StarSchema.build(spark.newSession(), bronze)
      StarSchema.tableNames.foreach { n =>
        Sinks.parquetAppendNew(reload(n), gold(out, n),
          StarSchema.mergeKeys(n), StarSchema.partitionSpec(n))
      }
    }
    Json.obj("out" -> out, "violations" -> violations,
      "gold_files_before_merge" -> filesBefore,
      "gold_files_after_merge" -> parquetFiles(s"$out/gold"))
  }

  /** Query order of one pass: as given at seed 0, otherwise a
    * permutation drawn from (seed, pass). */
  def order(qs: Seq[GQuery], seed: Long, pass: Int): Seq[GQuery] =
    if (seed == 0) qs else new scala.util.Random(seed * 1000003L + pass).shuffle(qs)

  def lakeQueries(spark: SparkSession, tracer: Tracer, bronze: String, work: String,
      seed: Long, seconds: Int, trace: Boolean, names: Seq[String]): ArrayBuffer[Object] = {
    val byName = Registry.allQueries.map(q => q.name -> q).toMap
    val qs = names.map(n => byName.getOrElse(n, sys.error(s"no query named $n")))
    val ops = ArrayBuffer.empty[Object]
    passes(seconds, trace, tracer) { (p, traced) =>
      order(qs, seed, p).foreach { q =>
        val c0 = cpuNow()
        val startMs = System.currentTimeMillis()
        val (plan, planS) = tracer.span(s"q:${q.name}:plan#$p", traced)(Try(q.run(spark, bronze)))
        val (exec, execS) = plan match {
          case Success(df) => tracer.span(s"q:${q.name}:exec#$p", traced)(Try(noop(df)))
          case Failure(e) => (Failure(e), 0.0)
        }
        val cpuS = cpuNow() - c0
        // output check, outside the timed spans: the cold execution's
        // rows, written the way graft.Verify writes them
        val checkPath = s"$work/check/${q.name}"
        val check = if (p != 0 || exec.isFailure) null else Try(
          tracer.span("check", traced)(plan.get.coalesce(1).write.mode("overwrite")
            .parquet(checkPath))) match {
          case Success(_) => checkPath
          case Failure(e) => "error: " + String.valueOf(e.getMessage).take(300)
        }
        ops += Json.obj("kind" -> "query", "pass" -> p, "name" -> q.name,
          "traced" -> traced, "start_ms" -> startMs, "plan_s" -> planS,
          "exec_s" -> execS, "cpu_s" -> cpuS, "ok" -> exec.isSuccess,
          "error" -> errorOf(exec), "check" -> check)
      }
    }
    ops
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("oracle-sql", out) =>
      Json.write(out, Json.obj(Registry.allQueries.filter(_.benchmark)
        .map(q => q.name -> q.oracle.getOrElse(null)): _*))
    case Seq("run", workload, bronze, work, seed, seconds, trace, launchMs, result, queries) =>
      run(workload, bronze, work, seed.toLong, seconds.toInt, trace == "1",
        launchMs.toLong, result, queries.split(',').toSeq)
    case _ =>
      System.err.println("usage: perfbench.PerfBench run <workload> <bronzeDir> <workDir> " +
        "<seed> <seconds> <trace 0|1> <launchEpochMs> <result.json> <query,...> | " +
        "oracle-sql <out.json>")
      sys.exit(2)
  }

  def run(workload: String, bronze: String, work: String, seed: Long, seconds: Int,
      trace: Boolean, launchMs: Long, result: String, queries: Seq[String]): Unit = {
    require(Set("medallion_load", "lake_queries")(workload), s"unknown workload $workload")
    val spark = Sessions.local()
    val tracer = new Tracer(spark)
    tracer.attach(trace)
    tracer.span("setup", trace)(spark.read.parquet(s"$bronze/region.parquet").count())
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    val (ops, iso) = workload match {
      case "medallion_load" => medallionLoad(spark, tracer, bronze, work, seconds, trace)
      case "lake_queries" =>
        (lakeQueries(spark, tracer, bronze, work, seed, seconds, trace, queries), null)
    }
    val traceOut = if (trace) {
      org.apache.spark.PerfbenchBusDrain(spark.sparkContext)
      val snap = tracer.listener.snapshot()
      snap.put("spans", Json.arr(tracer.spans.toSeq))
      snap
    } else null
    Json.write(result, Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> spark.sparkContext.defaultParallelism,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024),
      "setup_s" -> setupS, "peak_rss_mb" -> peakRssMb(),
      "ops" -> Json.arr(ops.toSeq), "iso" -> iso, "trace_data" -> traceOut))
    spark.stop()
  }
}
