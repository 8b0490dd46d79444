package graft

import org.apache.spark.sql.SparkSession

/** Central session tuning so Verify/Bench/tests agree.
  * Mirrors the reference's one Spark config site (spark_cleaner.py:32-47)
  * but sized for real parallelism: AQE on (runtime coalesce + skew
  * handling), shuffle partitions = cores for local mode (200 default is
  * wrong single-JVM), UTC for oracle parity, nanosAsLong because the
  * events table carries parquet TIMESTAMP(NANOS).
  */
object Sessions {
  def tune(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // Broadcast threshold stays at Spark's 10 MB default, but
      // env-overridable for cluster tuning. MEASURED before settling
      // (optimization r16): 64m converts only q77/q82's sf1 bucket
      // self-joins SMJ→BHJ — q77 gained ~0.25 s but q82's vector-array
      // broadcast build showed 12 s GC spikes; preferSortMergeJoin=
      // false + the AQE shuffled-hash threshold degraded q181's
      // within-cell self-join 0.9→4.0 s at sf1. Both rejected.
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BROADCAST_THRESHOLD", "10m"))
      // localCheckpoint blocks are freed by the ContextCleaner only
      // after the driver GCs the RDD wrapper; the default periodic-GC
      // interval (30 min) exceeds a whole Bench/Verify run, so blocks
      // of long-dead per-query checkpoints can sit in the unified
      // memory region competing with live execution memory (driver ==
      // executor in local mode). MEASURED before settling (r17): a
      // 2 min interval injected a full-GC pause into ~3 timed windows
      // per bench run — sentinel spreads rose from 1.15 to 1.5–2.5 on
      // the same host — while the reclaimed blocks never measurably
      // helped (natural young-gen GC already drains the ContextCleaner
      // queue between queries). Kept at Spark's default, overridable
      // for long-lived cluster drivers where dead-block residency
      // actually bites.
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "30min"))
      .config("spark.ui.enabled", "false")
      // Generated code compiles once per JVM, not once per session and
      // sweep. CodeGenerator's JVM-wide cache keys on (classloader,
      // source) and holds 100 entries by default, while graft's
      // working set is far larger (distinct generated classes, counted
      // on the cache keys at sf0.01): one Main.run ~310, the 8
      // perfbench lake queries ~395, the 31 headline queries ~853 —
      // ~1.2k for the headline set plus Main.run. At 100 entries an
      // LRU sweep evicts every class before its next use, so even one
      // long-lived session recompiled all of them each pass (395 Janino
      // compiles per lake-query sweep). 2048 leaves headroom; a 31-
      // query sweep grew Metaspace 171 → 175 MB. Static: it must be
      // set before the first session builds the shared state.
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      // Child sessions (`newSession()`: Bench's and perfbench's
      // pipeline passes, one per Main.run) each got their own executor
      // classloader through per-session artifact isolation, so the
      // cache above missed on every class of a fresh session (~315
      // compiles plus 16-20 s of JIT CPU per steady Main.run at sf0.01 on
      // 4 vCPU; the 190 bodies new in a second pass were byte-identical
      // to their first-pass twins). graft never adds session artifacts
      // (no addArtifact/addJar), so isolation buys nothing here;
      // sharing one classloader lets a second Main.run on a fresh
      // session compile 0-4 classes instead of ~300.
      .config("spark.sql.artifact.isolation.enabled", "false")

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    // withExtensions applies only when THIS call creates the session
    // (getOrCreate ignores it on reuse) — Verify/Bench/tests all build
    // through here first, so SQL DML on graft-delta works everywhere;
    // a foreign session opts in via spark.sql.extensions
    val s = tune(SparkSession.builder().master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.NativeRegistry.register(s)
    s
  }
}
