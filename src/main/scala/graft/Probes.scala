package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftglue.BusGlue
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Targeted measurement probes — the apparatus behind PLANS.md's skew,
  * scale and attribution tables. Each subcommand builds its own session
  * (fresh-JVM isolation is the caller's job, as with `Bench`) and prints
  * JSON lines (`plan` prints plans).
  *
  * `stages <query> <sfDir>` is the one per-operator breakdown: every
  * stage is charged to the [[core.Trace]] scope of its job. `plan <sfDir>
  * [query…]` prints the formatted explain of every plan a query executed.
  * `skew`, `streamfloor`, `decade`, `width`, `refile` and `scanaudit`
  * measure what a scope cannot express: treatments, scale and width
  * pairs, stream lifecycle floors, and plan fan-out.
  *
  * `skew <sfDir> <plain|aqe|salted> [saltFactor]` — the same
  * lineitem⋈supplier revenue aggregation under three treatments of a
  * hot l_suppkey (run against a `MakeScale --skew-suppkey` dir):
  * plain = shuffle join with AQE's skew split OFF; aqe = skew split ON;
  * salted = the q67 [[operators.Skew.saltedJoin]] wrapper. All three
  * run with auto-broadcast DISABLED: at bench scale the 100k-row
  * supplier side would broadcast and no skew mechanism would engage at
  * all, but the 100 TB case this measures is a dimension too big to
  * broadcast — the shuffle-join spelling is the thing under test. For
  * the same reason the AQE skew thresholds are scaled DOWN from their
  * production defaults (256 MB partitions don't exist at sf1; at real
  * scale the defaults engage on their own). Every variant prints the
  * same result checksum — a treatment that changed the answer would be
  * a bug, not a tuning.
  */
object Probes {

  private def session(name: String, extra: Map[String, String]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — controlled-experiment overrides
    // (e.g. autoBroadcastJoinThreshold=-1 to pin a join-strategy regime
    // on BOTH sides of a scale decade; the q94 attribution found 20 of
    // 38 joins flipping broadcast->sort-merge between sf1 and sf10,
    // which a raw decade ratio mistakes for super-linear operator work)
    val envExtra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val withExtra = (extra ++ envExtra).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
    val s = withExtra.getOrCreate()
    s.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))
    s
  }

  private def timed(runs: Int)(body: => Unit): Seq[Double] =
    (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def benchRuns(default: Int): Int =
    sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(default)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def runQuery(spark: SparkSession, name: String, sfDir: String): Unit =
    noop(SparkEntry.queries(name)(spark, sfDir))

  /** Drop every cache a run left behind (the graft registry's strong
    * refs included), so the next run recomputes its whole pipeline. */
  private def clear(spark: SparkSession): Unit = {
    core.InternalCaches.release()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Block until the async listener bus has delivered every queued event
    * to every listener — exact, where a sleep or a "count stopped
    * changing" poll can drop the tail on a loaded host. */
  private def drainBus(spark: SparkSession): Unit =
    BusGlue.waitUntilEmpty(spark.sparkContext, 60000)

  /** Run `body`; return every query execution it completed, in order.
    * Eagerly checkpointed operators fire several per query, and the plan
    * that matters (say, a join whose strategy flips across scales) is
    * rarely the final one. */
  private def executions(spark: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    val qes = new ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; drainBus(spark) }
    finally spark.listenerManager.unregister(l)
    qes.asScala.toSeq
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("skew") => skew(args(1), args(2),
      args.lift(3).map(_.toInt).getOrElse(8))
    case Some("streamfloor") => streamFloor(args(1),
      args.lift(2).getOrElse("q186_stream_histogram_quantiles"))
    case Some("decade") => decadePairs(args(1), args(2), args(3),
      args.lift(4).map(_.toInt).getOrElse(3))
    case Some("width") => widthPairs(args(1), args(2), args(3).toInt,
      args(4).toInt, args.lift(5).map(_.toInt).getOrElse(3))
    case Some("stages") => stages(args(1), args(2))
    case Some("q149") => q149Phases(args(1), args.lift(2).getOrElse("all"))
    case Some("q181") => q181Phases(args(1), args.lift(2).getOrElse("all"))
    case Some("refile") => refile(args(1), args(2), args(3).toInt, args(4))
    case Some("plan") => plan(args(1), args.drop(2).toSeq)
    case Some("scanaudit") => scanAudit(args(1), args.lift(2).map(_.toInt).getOrElse(4))
    case _ =>
      System.err.println(
        "usage: Probes skew <sfDir> <plain|aqe|salted> [saltFactor] | " +
          "streamfloor <sfDir> [queryName] | " +
          "decade <dirA> <dirB> <queryName> [rounds] | " +
          "width <sfDir> <queryName> <w1> <w2> [rounds] | " +
          "stages <queryName> <sfDir> | " +
          "q149 <sfDir> [all|pairs|cc|full] | q181 <sfDir> [all|memb|pairs|full] | " +
          "refile <sfDir> <table> <n> <outDir> | " +
          "plan <sfDir> [queryName...] | scanaudit <sfDir> [flagScans]")
      sys.exit(2)
  }

  // SPARK_GRAFT_PROBE_WARMUP=0 skips the untimed warmup run — the
  // COLD-cache protocol: cold samples run warmup-free with RUNS=1 in a
  // fresh JVM after an external page-cache evict (dev/evict_cache.py),
  // so the first touch IS the measurement. Cold numbers therefore bundle
  // JIT with I/O; the warm/cold DELTA isolates the page-cache term
  // because the warm run pays the same JIT.
  private def probeWarmup: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_PROBE_WARMUP", "1") != "0"

  /** Plan-multiplicity audit over EVERY SparkEntry query: runs each one
    * against a noop sink, collects every executed (final adaptive) plan
    * it fires (eagerly-checkpointed operators fire several), and flags
    * queries where a SINGLE plan contains ≥ `flagScans` source scans —
    * the fan-out disease: a multi-consumer frame whose upstream subtree
    * Catalyst inlines into every branch, so the source re-scans once per
    * consumer (ReuseExchange only dedupes identical exchanges, not
    * same-subtree-different-key consumers). Found this way and fixed with
    * `Checkpoints.cut`: q161 31 scans → tail of 0, q117 12 → 2, q176
    * 7 → 1. One JSON line per flagged query; a trailing summary line
    * always prints, so "flagged":0 is itself recorded evidence. */
  private def scanAudit(sfDir: String, flagScans: Int): Unit = {
    val spark = session("graft-scanaudit", Map.empty)
    def count(s: String, pat: String): Int = pat.r.findAllIn(s).length
    var flagged = 0
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        val mine = executions(spark)(runQuery(spark, name, sfDir))
          .map(_.executedPlan.toString)
        // the true fan-out signal is the SAME source path appearing many
        // times in ONE plan — N different tables scanned once each is a
        // normal join, and a persisted frame prints its child subtree
        // under InMemoryRelation even though execution reads the cache
        // (so raw FileScan counts overestimate for cached plans; the
        // cached_reads count disambiguates)
        def maxSamePath(p: String): Int = {
          val paths = "[\\w./-]+\\.(?:parquet|orc|csv|json|xlsx)"
            .r.findAllIn(p).toSeq
          if (paths.isEmpty) 0 else paths.groupBy(identity).values.map(_.size).max
        }
        val perPlan = mine.map(p => (maxSamePath(p), p))
        val (maxRescan, worst) =
          if (perPlan.isEmpty) (0, "") else perPlan.maxBy(_._1)
        if (maxRescan >= flagScans) {
          flagged += 1
          println(s"""{"query":"$name","n_execs":${mine.size}""" +
            s""","max_same_source_in_one_plan":$maxRescan""" +
            s""","cached_reads":${count(worst, "InMemoryTableScan|TableCacheQueryStage")}""" +
            s""","exchanges":${count(worst, "Exchange")}""" +
            s""","reused":${count(worst, "ReusedExchange")}}""")
        }
      } catch {
        case e: Exception =>
          println(s"""{"query":"$name","error":"${e.getClass.getSimpleName}"}""")
      }
    }
    println(s"""{"probe":"scanaudit","sf":"$sfDir","flag_threshold":$flagScans""" +
      s""","queries":${SparkEntry.queries.size},"flagged":$flagged}""")
    spark.stop()
  }

  /** Print the formatted explain of EVERY plan the named SparkEntry
    * queries executed (all queries when none are named) — the final
    * adaptive plans, which `.explain` on the unexecuted frame cannot show
    * (exchange reuse, coalescing, skew splits, runtime join demotions).
    * Each query runs once against a noop sink. The plan-audit workflow:
    * after touching a multi-consumer operator, look for ReusedExchange /
    * ReusedSubquery where a frame fans out to several joins, and for
    * PushedFilters, pruned ReadSchema and broadcast small sides. */
  private def plan(sfDir: String, names: Seq[String]): Unit = {
    val spark = session("graft-plan", Map.empty)
    val queries = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    queries.foreach { name =>
      println(s"================ $name ================")
      try {
        val qes = executions(spark)(runQuery(spark, name, sfDir))
        qes.zipWithIndex.foreach { case (qe, i) =>
          println(s"==== executed plan ${i + 1}/${qes.size} ====")
          println(qe.explainString(FormattedMode))
        }
      } catch {
        case e: Exception => println(s"(failed: ${e.getClass.getSimpleName}: ${e.getMessage})")
      }
      clear(spark)
    }
    spark.stop()
  }

  /** Rewrite one table of a scaled dir into `n` files (round-robin).
    * MakeScale's single-output-file layout makes the whole scan ONE map
    * task, and AQE's skew split subdivides a reduce partition along
    * map-output boundaries — one mapper means nothing to subdivide, so
    * the mechanism can never engage no matter how hot the key. A 100 TB
    * scan is thousands of map tasks; this restores that property for
    * the skew measurements. Values are untouched (same rows, same
    * checksums) — only file count changes. */
  private def refile(sfDir: String, table: String, n: Int, outDir: String): Unit = {
    val spark = session("graft-refile", Map.empty)
    spark.read.parquet(s"$sfDir/$table.parquet")
      .repartition(n)
      .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    println(s"""{"probe":"refile","table":"$table","n":$n,"out":"$outDir"}""")
    spark.stop()
  }

  private def skew(sfDir: String, variant: String, saltFactor: Int): Unit = {
    require(Set("plain", "aqe", "salted")(variant), s"variant $variant")
    val spark = session(s"graft-skewprobe-$variant", Map(
      // the 100 TB premise: dimension too big to broadcast
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> (variant == "aqe").toString,
      // production defaults (256 MB / factor 5) sized for real executors;
      // scaled to engage at bench partition sizes, same mechanism
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_SKEW_THRESHOLD", "8m"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        sys.env.getOrElse("SPARK_GRAFT_SKEW_FACTOR", "2.0"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_SKEW_ADVISORY", "4m"),
      // AQE splits a skewed REDUCE partition along MAP-output boundaries
      // — a fact this probe measured the hard way: the 75 MB single-file
      // lineitem scan is ONE map task at the 128 MB default, so the hot
      // partition arrives from one mapper and createSkewPartitionSpecs
      // has nowhere to cut (split count would be 1 → rule declines, the
      // DEBUG log shows "skewed partitions: left 0" despite a 13×-median
      // partition). A 100 TB scan is thousands of mappers, so the
      // realistic regime needs many map tasks — size scan splits down
      // for it with SPARK_GRAFT_MAX_PARTITION_BYTES.
      "spark.sql.files.maxPartitionBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m")))
    import graft.core.Tables
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey").as("suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    def joined: DataFrame = {
      val j =
        if (variant == "salted")
          operators.Skew.saltedJoin(li, supp, Seq("suppkey"), saltFactor)
        else li.join(supp, Seq("suppkey"))
      j.groupBy("s_nationkey")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")), 2))
          .as("revenue"), count(lit(1)).as("n_items"))
    }
    // untimed: hot-key diagnostics + warmup (page cache, codegen)
    val hot = operators.Skew.heavyHitters(li, "suppkey", 1).head()
    val hotShare = hot.getDouble(hot.length - 1)
    val check = joined.agg(sum(round(col("revenue"), 0)).cast("long"),
      sum("n_items").cast("long"), count(lit(1))).head()
    var secs = Seq.empty[Double]
    // the FINAL adaptive plan of the last timed execution — "did AQE's
    // skew split actually engage" is a claim the timing table can't
    // settle by itself (an un-engaged mechanism and an engaged-but-
    // useless one read identically as "no speedup")
    val lastPlan = executions(spark) {
      secs = timed(benchRuns(3))(noop(joined))
    }.lastOption.map(_.executedPlan.toString).getOrElse("")
    // Spark 4 renders an engaged skew split as an AQEShuffleRead whose
    // partition spec is printed "skewed" (optionally with "coalesced"),
    // and the join node carries isSkewJoin=true. A bare "skew" match
    // would false-positive on the data directory PATH in FileScan nodes
    // (e.g. .../graft_sf1_skew4/...), so match the exact spellings.
    val skewEngaged = lastPlan.contains("skewed") || lastPlan.contains("isSkewJoin=true")
    sys.env.get("SPARK_GRAFT_DUMP_PLAN").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        lastPlan.getBytes("UTF-8"))
    }
    println(s"""{"probe":"skew","variant":"$variant","sf":"$sfDir"""" +
      s""","salt_factor":${if (variant == "salted") saltFactor else 0}""" +
      s""","hot_key_share":$hotShare""" +
      s""","runs":${secs.map(s => f"$s%.2f").mkString("[", ",", "]")}""" +
      s""","median":${f"${median(secs)}%.2f"}""" +
      s""","aqe_skew_engaged":$skewEngaged""" +
      s""","checksum":[${check.getLong(0)},${check.getLong(1)},${check.getLong(2)}]}""")
    spark.stop()
  }

  /** Streaming fixed-overhead attribution (round-12 verdict #5): six of
    * the bench's top-15 queries are micro-batch drains, and the open
    * question is how much of their per-query seconds is the FLOOR
    * (query start, file-source listing, stop/drain latency — costs that
    * do not grow with data or state) versus inside-batch work. The
    * engine's own progress stream answers it: per batch, `durationMs`
    * splits triggerExecution into addBatch (state + sink work),
    * getBatch/latestOffset (source), queryPlanning, walCommit/
    * commitOffsets (checkpoint bookkeeping). This rig drains the named
    * SparkEntry streaming query while summing those keys across batches;
    * overhead_sec = wall − Σ triggerExecution is the floor the progress
    * stream cannot see (start/stop + inter-batch gaps). */
  private def streamFloor(sfDir: String, queryName: String): Unit = {
    val spark = session("graft-stream-floor", Map.empty)
    val runs = benchRuns(3)
    val buf = new ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        buf.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    def drain(): Unit = runQuery(spark, queryName, sfDir)
    if (probeWarmup) { drain(); clear(spark) }
    val keys = Seq("triggerExecution", "addBatch", "getBatch", "latestOffset",
      "queryPlanning", "walCommit", "commitOffsets")
    val rows = (1 to runs).map { _ =>
      buf.clear()
      val t0 = System.nanoTime()
      drain()
      val wall = (System.nanoTime() - t0) / 1e9
      // the final batch's progress event must be in before the sums are
      // read, or overhead_sec is overstated — the very floor measured
      drainBus(spark)
      val ps = buf.asScala.toSeq
      val sums = keys.map(k => k ->
        ps.flatMap(p => Option(p.durationMs.get(k)).map(_.longValue)).sum).toMap
      clear(spark)
      (wall, ps.size, ps.map(_.numInputRows).sum, sums)
    }
    spark.streams.removeListener(listener)
    def f(d: Double) = f"$d%.3f"
    val runJson = rows.map { case (wall, nb, inRows, sums) =>
      s"""{"wall":${f(wall)},"batches":$nb,"input_rows":$inRows,""" +
        keys.map(k => s""""${k}_ms":${sums(k)}""").mkString(",") +
        s""","overhead_sec":${f(wall - sums("triggerExecution") / 1000.0)}}"""
    }.mkString("[", ",", "]")
    val medWall = median(rows.map(_._1))
    val medTrig = rows.map(_._4("triggerExecution").toDouble).sorted.apply(rows.size / 2)
    println(s"""{"probe":"stream_floor","query":"$queryName","sf":"$sfDir"""" +
      s""","runs_per_point":$runs,"median_wall":${f(medWall)}""" +
      s""","median_trigger_ms":${medTrig.toLong}""" +
      s""","median_overhead_sec":${f(medWall - medTrig / 1000.0)}""" +
      s""","runs":$runJson}""")
    spark.stop()
  }

  /** Per-run task-metric accumulator for the paired probes. For every
    * timed run it sums, across all tasks the run fired: executor run
    * time (wall inside tasks), CPU time (on-CPU nanoseconds the kernel
    * actually granted), JVM GC time inside tasks, shuffle bytes both
    * ways, and memory+disk spill. The drift hypotheses separate cleanly
    * on these: host CPU-steal → cpu_ms stable while wall swings (the
    * work is the same, the clock isn't); GC regime → gc_ms swings with
    * wall; a plan flip → task count / shuffle bytes change between runs
    * of the SAME query. */
  private final class PhaseMetrics extends SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val tasks, runMs, cpuMs, gcMs, shRead, shWrite, spill = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        tasks.incrementAndGet()
        runMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        gcMs.addAndGet(m.jvmGCTime)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    def snap(): Map[String, Long] = Map(
      "tasks" -> tasks.get, "run_ms" -> runMs.get, "cpu_ms" -> cpuMs.get,
      "gc_ms" -> gcMs.get, "sh_read_mb" -> shRead.get / (1 << 20),
      "sh_write_mb" -> shWrite.get / (1 << 20), "spill_mb" -> spill.get / (1 << 20))
  }

  /** One timed arm of a paired round: wall seconds, the canary read just
    * before it, and its summed task metrics. */
  private final case class Arm(secs: Double, canary: Double, m: Map[String, Long])

  /** The paired-rounds protocol shared by `decade` and `width`: two arms
    * run adjacently inside ONE JVM, order flipped each round, a pure-CPU
    * canary (exchange-free; see core.Canary) before each timed run, and
    * per-run summed task metrics. Between-JVM wall subtraction proved
    * unusable on a shared box (same rung, same data: 74.6–351.7 s across
    * six fresh JVMs, Q94_JVM.jsonl), so the treatment is always measured
    * against its twin seconds apart. The untimed warmup runs the first
    * arm against SPARK_GRAFT_WARMUP_SF_DIR (default: the first arm's own
    * dir), so warming the JIT need not warm the measured dir's pages.
    * `run(tag, dir)` executes one arm; `fields` renders the probe's own
    * JSON fields of a round from every arm's results. */
  private def pairedRounds(spark: SparkSession, rounds: Int,
                           arms: Vector[(String, String)],
                           run: (String, String) => Unit)
                          (fields: Map[String, Arm] => String): Unit = {
    val metrics = new PhaseMetrics
    spark.sparkContext.addSparkListener(metrics)
    def clearAll(): Unit = {
      clear(spark)
      // force shuffle-file reclamation between runs: the ContextCleaner
      // only removes a run's shuffle files once its ShuffleDependencies
      // are GC'd, and a paired (sf10 + sf30) round otherwise holds BOTH
      // scales' files simultaneously (measured: 18 GB + 56 GB > the
      // sandbox disk — two ENOSPC-killed JVMs before this line existed)
      System.gc()
      Thread.sleep(3000)
    }
    def canary(): Double = core.Canary.seconds(spark)
    if (probeWarmup) {
      val (tag, dir) = arms.head
      canary(); run(tag, sys.env.getOrElse("SPARK_GRAFT_WARMUP_SF_DIR", dir)); clearAll()
    }
    def f(d: Double) = f"$d%.2f"
    (1 to rounds).foreach { round =>
      val order = if (round % 2 == 1) arms else arms.reverse
      val results = order.map { case (tag, dir) =>
        val cw = canary()
        val before = metrics.snap()
        val t0 = System.nanoTime(); run(tag, dir)
        val t = (System.nanoTime() - t0) / 1e9; clearAll()
        val after = metrics.snap()
        tag -> Arm(t, cw, after.map { case (k, v) => k -> (v - before(k)) })
      }.toMap
      val perArm = arms.map { case (tag, _) =>
        val a = results(tag)
        s""""$tag":${f(a.secs)},"${tag}_canary":${f(a.canary)},"${tag}_m":{${
          a.m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")}}"""
      }
      println(s"""{${fields(results)},"round":$round""" +
        s""","order":${order.map(o => "\"" + o._1 + "\"").mkString("[", ",", "]")}""" +
        perArm.mkString(",", ",", "}"))
    }
  }

  /** Paired scale-step measurement — the third-decade instrument: the
    * dirA→dirB ratio of one query, both scales inside one JVM (see
    * [[pairedRounds]]). CPU and shuffle ratios are the drift-immune
    * numerators; the wall ratio is reported but adjudicated against the
    * canary pair. Medians are computed downstream (drop round 1 — GC/JIT
    * regime still settling). */
  private def decadePairs(dirA: String, dirB: String, query: String,
                          rounds: Int): Unit = {
    val spark = session("graft-decade", Map.empty)
    pairedRounds(spark, rounds, Vector("a" -> dirA, "b" -> dirB),
      (_, d) => runQuery(spark, query, d)) { r =>
      val (a, b) = (r("a"), r("b"))
      def ratio(k: String) = if (a.m(k) > 0) b.m(k).toDouble / a.m(k) else -1.0
      f""""probe":"decade","query":"$query","dir_a":"$dirA","dir_b":"$dirB"""" +
        f""","wall_ratio":${b.secs / a.secs}%.2f,"cpu_ratio":${ratio("cpu_ms")}%.2f""" +
        f""","shuffle_ratio":${ratio("sh_write_mb")}%.2f"""
    }
    spark.stop()
  }

  /** Within-JVM shuffle-WIDTH pairing at ONE scale: `spark.sql.shuffle.
    * partitions` is a RUNTIME conf, so one JVM alternates the two widths
    * on the same data (see [[pairedRounds]]) — the decade protocol with
    * width, not scale, as the treatment. AQE stays on in both arms: the
    * wide arm is exactly the DEPLOY prescription ("set the initial width
    * high, let AQE coalesce to its advisory"), so the comparison
    * falsifies or confirms the PRESCRIPTION, not a strawman with AQE
    * off. spill_mb is the mechanism witness: the depth term predicts
    * spill at the narrow width and its absence at the wide. */
  private def widthPairs(sfDir: String, query: String, w1: Int, w2: Int,
                         rounds: Int): Unit = {
    val spark = session("graft-width", Map.empty)
    val width = Map("narrow" -> w1, "wide" -> w2)
    pairedRounds(spark, rounds, Vector("narrow" -> sfDir, "wide" -> sfDir),
      { (tag, d) =>
        spark.conf.set("spark.sql.shuffle.partitions", width(tag).toString)
        runQuery(spark, query, d)
      }) { r =>
      f""""probe":"width","query":"$query","sf":"$sfDir","w_narrow":$w1,"w_wide":$w2""" +
        f""","wide_over_narrow":${r("wide").secs / r("narrow").secs}%.2f"""
    }
    spark.stop()
  }

  /** Fresh-JVM phase rungs — the protocol `stages` replaced, kept only
    * for q149 and q181, whose committed shares (cc ≈ 90% of q149, memb ≈
    * 91% of q181) `stages` does not reproduce; CHANGES.md has both sets of
    * numbers. A rung times one prefix of the query through the operators'
    * own entry points (`full`/`all` = the whole query), after an untimed
    * warmup of the same rung, caches cleared between samples. Give each
    * rung its own JVM: the first rung in a shared JVM pays JIT and heap
    * growth the later rungs inherit. Rung walls include planning and, for
    * a prefix, one read of its output, so they do not subtract cleanly. */
  private def phaseRungs(spark: SparkSession, query: String, sfDir: String, rung: String)
                        (prefixes: Map[String, String => Long]): Unit = {
    require(rung == "all" || rung == "full" || prefixes.contains(rung), s"rung $rung")
    var n = -1L
    def body(d: String): Unit =
      prefixes.get(rung).fold(runQuery(spark, query, d))(p => n = p(d))
    if (probeWarmup) { body(sfDir); clear(spark) }
    val secs = (1 to benchRuns(3)).map { _ =>
      val t0 = System.nanoTime(); body(sfDir)
      val t = (System.nanoTime() - t0) / 1e9; clear(spark); t
    }
    def f(d: Double) = f"$d%.2f"
    println(s"""{"probe":"${query.takeWhile(_ != '_')}_phases","sf":"$sfDir","rung":"$rung"""" +
      s""","runs":${secs.map(f).mkString("[", ",", "]")}""" +
      s""","median":${f(median(secs))},"warmup":$probeWarmup""" +
      (if (n >= 0) s""","n_rows":$n}""" else "}"))
    spark.stop()
  }

  /** q149 rungs: pairs = corpus + Dedup.jaccardPairsPrefixFilter; cc =
    * pairs + Dedup.connectedComponents; full = + scored join, keeper,
    * anti-join and final agg. Corpus spelled as SparkEntry's q149. */
  private def q149Phases(sfDir: String, rung: String): Unit = {
    val spark = session("graft-q149-phases", Map.empty)
    import graft.operators.Dedup
    def pairs(d: String) = {
      val base = core.Tables.documents(spark, d).select("doc_id", "text")
      val m1 = base.where(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 200000)
        .withColumn("text", concat(col("text"), lit(" extra suffix token")))
      Dedup.jaccardPairsPrefixFilter(base.unionByName(m1), "doc_id", "text", 3, 0.5)
    }
    phaseRungs(spark, "q149_dedup_keep_best", sfDir, rung)(Map(
      "pairs" -> (d => pairs(d).count()),
      "cc" -> (d => Dedup.connectedComponents(pairs(d), "id_a", "id_b").count())))
  }

  /** q181 rungs: memb = membership build (Association.basketItems, its
    * eager checkpoint included); pairs = memb + the (ia, ib) support
    * aggregation; full = + the lift joins and final sort. Parameters as
    * in the bench query. */
  private def q181Phases(sfDir: String, rung: String): Unit = {
    val spark = session("graft-q181-phases", Map.empty)
    import graft.operators.Association
    def memb(d: String) = Association.basketItems(core.Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i")), "b", "i", maxBasket = 10000)
    phaseRungs(spark, "q181_item_cooccurrence", sfDir, rung)(Map(
      "memb" -> (d => memb(d).count()),
      "pairs" -> (d => Association.pairSupports(memb(d), minSupport = 2).count())))
  }

  /** One completed stage, charged to the scope of the job that ran it. */
  private final case class Stage(scope: String, id: Int, name: String,
                                 tasks: Int, wallMs: Long, taskMs: Long,
                                 maxTaskMs: Long, inBytes: Long, shReadBytes: Long,
                                 shWriteBytes: Long, spillBytes: Long, gcMs: Long)

  /** A job's innermost scope opening, start and end (epoch ms). */
  private final case class Job(scope: core.Trace.Scope, startMs: Long, endMs: Long)

  /** Folds every job and stage into the innermost [[core.Trace]] scope of
    * its job; a job with no graft scope is charged to `fallback` (the
    * query's own scope). `take()` hands over what was folded since the
    * last take — call it after [[drainBus]]. */
  private final class ScopeFold(fallback: String) extends SparkListener {
    private val stageScope = mutable.Map.empty[Int, String]
    private val maxTask = mutable.Map.empty[Int, Long]
    private val jobStart = mutable.Map.empty[Int, (core.Trace.Scope, Long)]
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val stages = mutable.ArrayBuffer.empty[Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val scope = core.Trace.scopeOf(Option(e.properties)
        .map(_.getProperty(core.Trace.JobTagsProperty)).orNull)
        .getOrElse(core.Trace.Scope(0, Long.MaxValue, fallback))
      jobStart(e.jobId) = (scope, e.time)
      // a stage runs in the first job that lists it; later jobs skip it
      e.stageIds.foreach(s => if (!stageScope.contains(s)) stageScope(s) = scope.name)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (scope, t0) => jobs += Job(scope, t0, e.time) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        maxTask(e.stageId) = math.max(maxTask.getOrElse(e.stageId, 0L), e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
      // JSONL-safe stage label: drop anything that could break the line
      val name = si.name.takeWhile(_ != '\n').take(60)
        .filter(c => c >= ' ' && c != '"' && c != '\\')
      stages += Stage(stageScope.getOrElse(si.stageId, fallback), si.stageId, name,
        si.numTasks, wall, tm.executorRunTime, maxTask.getOrElse(si.stageId, 0L),
        tm.inputMetrics.bytesRead, tm.shuffleReadMetrics.totalBytesRead,
        tm.shuffleWriteMetrics.bytesWritten, tm.memoryBytesSpilled + tm.diskBytesSpilled,
        tm.jvmGCTime)
    }

    def take(): (Seq[Job], Seq[Stage]) = synchronized {
      val out = (jobs.toSeq, stages.toSeq)
      jobs.clear(); stages.clear(); maxTask.clear()
      out
    }
  }

  /** Per-scope breakdown of one query — the single attribution tool for
    * every query, replacing rigs that each re-spelled one query's phases.
    * After an untimed warmup, the query runs `SPARK_GRAFT_BENCH_RUNS`
    * (default 3) times inside its own [[core.Trace]] scope, caches
    * cleared between runs; a listener charges every stage to the
    * innermost scope of its job. Wall time is charged the same way: each
    * opening of a scope spans from its opening to its last job's end, and
    * every instant goes to the innermost opening that spans it — so the
    * driver time an operator spends planning its jobs is the operator's.
    * The scope walls plus `after_jobs_s` (driver time after the last
    * job) add up to the query wall. Work an operator leaves lazy is
    * charged to the scope that first materializes it.
    *
    * Prints one query line (every run's wall), then per scope, heaviest
    * first: the medians over runs of wall, share of the query wall, task
    * time, longest task, input, shuffle read/write, spill and GC, with
    * that scope's stages of the median run beneath. A stage whose
    * concurrency (task time / wall) reads ~1 on a many-core box is a
    * serial bottleneck however linearly its work scales. */
  private def stages(queryName: String, sfDir: String): Unit = {
    val spark = session("graft-stages", Map.empty)
    val fold = new ScopeFold(queryName)
    spark.sparkContext.addSparkListener(fold)
    def run(): Double = {
      val t0 = System.nanoTime()
      core.Trace.scope(queryName)(runQuery(spark, queryName, sfDir))
      val t = (System.nanoTime() - t0) / 1e9
      clear(spark); drainBus(spark)
      t
    }
    if (probeWarmup) { run(); fold.take() }
    val runs = (1 to benchRuns(3)).map(_ => (run(), fold.take()))
    val walls = runs.map(_._1)

    def scopeWalls(jobs: Seq[Job]): Map[String, Double] = {
      val spans = jobs.groupBy(_.scope).map { case (sc, js) =>
        (sc, (sc.openedMs +: js.map(_.startMs)).min, js.map(_.endMs).max) }.toSeq
      val cuts = spans.flatMap(sp => Seq(sp._2, sp._3)).distinct.sorted
      cuts.zip(cuts.drop(1)).flatMap { case (a, b) =>
        spans.filter(sp => sp._2 <= a && sp._3 >= b).maxByOption(_._1.id)
          .map(_._1.name -> (b - a) / 1000.0)
      }.groupMapReduce(_._1)(_._2)(_ + _)
    }
    // per run: scope -> (wall seconds, its stages)
    val perRun = runs.map { case (_, (jobs, sts)) =>
      val wall = scopeWalls(jobs)
      (wall.keySet ++ sts.map(_.scope)).map(s =>
        s -> (wall.getOrElse(s, 0.0), sts.filter(_.scope == s))).toMap
    }
    def med(scope: String)(g: ((Double, Seq[Stage])) => Double): Double =
      median(perRun.map(_.get(scope).map(g).getOrElse(0.0)))
    def sum(scope: String)(g: Stage => Long): Double = med(scope)(_._2.map(g).sum.toDouble)
    def mb(b: Double) = b / (1 << 20)
    val medWall = median(walls)
    val medRun = walls.indexOf(medWall)
    val outside = median(walls.zip(perRun).map { case (w, r) => w - r.values.map(_._1).sum })
    val scopes = perRun.flatMap(_.keys).distinct.map(s => s -> med(s)(_._1)).sortBy(-_._2)
    println(f"""{"probe":"stages","query":"$queryName","sf":"$sfDir","warmup":$probeWarmup""" +
      f""","runs":${walls.map(w => f"$w%.3f").mkString("[", ",", "]")}""" +
      f""","median_wall_s":$medWall%.3f,"after_jobs_s":$outside%.3f,"scopes":${scopes.size}}""")
    scopes.foreach { case (s, wallS) =>
      println(f"""{"probe":"stages","query":"$queryName","scope":"$s"""" +
        f""","wall_s":$wallS%.3f,"share":${wallS / medWall}%.3f""" +
        f""","stages":${med(s)(_._2.size.toDouble)}%.0f,"tasks":${sum(s)(_.tasks.toLong)}%.0f""" +
        f""","task_s":${sum(s)(_.taskMs) / 1000}%.3f""" +
        f""","max_task_s":${med(s)(x => (0L +: x._2.map(_.maxTaskMs)).max / 1000.0)}%.3f""" +
        f""","in_mb":${mb(sum(s)(_.inBytes))}%.2f,"sh_read_mb":${mb(sum(s)(_.shReadBytes))}%.2f""" +
        f""","sh_write_mb":${mb(sum(s)(_.shWriteBytes))}%.2f""" +
        f""","spill_mb":${mb(sum(s)(_.spillBytes))}%.2f,"gc_s":${sum(s)(_.gcMs) / 1000}%.3f}""")
      perRun(medRun).get(s).toSeq.flatMap(_._2).sortBy(_.id).foreach { st =>
        val conc = if (st.wallMs > 0) st.taskMs.toDouble / st.wallMs else 0.0
        println(f"""{"probe":"stages","query":"$queryName","scope":"$s","stage":${st.id}""" +
          f""","name":"${st.name}","tasks":${st.tasks},"wall_ms":${st.wallMs}""" +
          f""","task_ms":${st.taskMs},"max_task_ms":${st.maxTaskMs},"concurrency":$conc%.1f""" +
          f""","in_mb":${mb(st.inBytes)}%.2f,"sh_read_mb":${mb(st.shReadBytes)}%.2f""" +
          f""","sh_write_mb":${mb(st.shWriteBytes)}%.2f,"spill_mb":${mb(st.spillBytes)}%.2f""" +
          f""","gc_ms":${st.gcMs}}""")
      }
    }
    spark.stop()
  }
}
