package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Money, OcrRepair, TextClean, ThaiDates}
import graft.operators.{CompanyQueries, Dedup, Merge}
import graft.pipelines.Pipelines
import graft.sources.{ExcelReader, Ingest, PdfReader, Sinks}
import graft.streaming.EventsStream

/** Layer-boundary helpers shared by the workloads. */
abstract class Journey(b: Bench) extends Workload {
  protected val spark = b.spark
  private val staged = mutable.ArrayBuffer.empty[DataFrame]

  /** In a traced pass, materialize a call's result inside its span so the
    * work is charged to the layer that produced it (untraced: lazy, as a
    * user would run it). Released at the end of the pass. */
  protected def stage(df: DataFrame, key: String = "rows"): DataFrame =
    if (!b.tracer.enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      b.tracer.count(key, p.count().toDouble)
      staged += p
      p
    }

  protected def releaseStaged(): Unit = {
    staged.foreach(_.unpersist())
    staged.clear()
  }

  protected def writeLines(path: String, lines: Iterable[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }
}

// ------------------------------------------------------------- ingest --

/** Hostile-file ingest: every reader plus the PO and invoice pipelines,
  * normalized records and rejects written as JSON. */
final class IngestHostile(b: Bench, in: String, work: String) extends Journey(b) {
  private val out = s"$work/out"

  def prepare(): Unit = ()

  private def cleanseExcel(rows: DataFrame): DataFrame = rows.select(
    col("source_file"), col("source_sheet"), col("row_idx"),
    trim(col("code")).as("code"),
    TextClean.normWs(col("name")).as("name"),
    Money.parseAmountRobust(col("amount")).as("amount"),
    ThaiDates.parseFlexibleDate(col("date")).as("date"))

  private def cleansePdf(grid: DataFrame): DataFrame = {
    val cell = (i: Int) => try_element_at(col("cells"), lit(i))
    grid.where(col("reject_reason").isNull && cell(1).rlike("^[0-9]+$"))
      .select(col("source_file"), col("page_number"), cell(1).cast("int").as("seq"),
        OcrRepair.repairTailLookalikes(nullif(cell(2), lit(""))).as("invoice_no"),
        Money.parseAmountRobust(cell(3)).as("amount"))
  }

  def pass(i: Int): Option[Double] = {
    val (rows, excelRejects) = b.op("sources.excel") {
      val (r, j) = ExcelReader.multiSheetUnionWithRejects(spark, s"$in/excel/*")
      (stage(r), stage(j, "rejects"))
    }
    val excel = b.op("functions.cleanse") {
      val c = stage(cleanseExcel(rows))
      if (b.tracer.enabled) {
        val inputs = rows.agg(count(col("amount")), count(col("date"))).head()
        val parsed = c.agg(count(col("amount")), count(col("date"))).head()
        b.tracer.count("inputs", (inputs.getLong(0) + inputs.getLong(1)).toDouble)
        b.tracer.count("parsed", (parsed.getLong(0) + parsed.getLong(1)).toDouble)
      }
      c
    }
    val grid = b.op("sources.pdf") { stage(PdfReader.pagesGridTagged(spark, s"$in/pdf/*")) }
    val pdf = b.op("functions.cleanse") { stage(cleansePdf(grid)) }
    val po = b.op("pipelines.po") { stage(Pipelines.poCsvMany(spark, s"$in/po/*")) }
    val (invoices, invoiceRejects) = b.op("pipelines.invoice") {
      val (v, r) = Pipelines.invoiceReport(spark, s"$in/invoice")
      (stage(v), stage(r, "rejected"))
    }
    val rejects = excelRejects.unionByName(grid.where(col("reject_reason").isNotNull)
      .select(col("source_file"), col("reject_reason")))
    Seq("excel" -> excel, "pdf" -> pdf, "po" -> po, "invoice" -> invoices,
      "invoice_rejects" -> invoiceRejects, "rejects" -> rejects).foreach { case (name, df) =>
      b.op("sources.sink.json") { Sinks.writeJsonRecords(df, s"$out/$name") }
    }
    releaseStaged()
    None
  }

  def export(): Map[String, Any] = Map("out" -> out)
}

// ------------------------------------------------------------ nightly --

/** The nightly batch job: the hostile-file ingest, then the corpus dedup,
  * in one pass of one JVM. Each part keeps its own inputs and outputs. */
final class NightlyBatch(b: Bench, in: String, work: String) extends Workload {
  private val ingest = new IngestHostile(b, s"$in/ingest", s"$work/ingest")
  private val dedup = new CorpusDedup(b, s"$in/dedup", s"$work/dedup")

  def prepare(): Unit = { ingest.prepare(); dedup.prepare() }

  def pass(i: Int): Option[Double] = {
    ingest.pass(i)
    dedup.pass(i)
    None
  }

  def export(): Map[String, Any] =
    Map("ingest" -> ingest.export(), "dedup" -> dedup.export())

  override def extra(): Map[String, Any] = dedup.extra()
}

// ------------------------------------------------------------- sync ----

/** A series of days. Each day applies a DBD delta to a fiscal-year-
  * partitioned table, replaces the directors of the companies it names,
  * drains the day's CDC event files through the streaming CDC snapshot
  * swap and watermark windows (one file per micro-batch), and then serves
  * an open-loop burst of company lookups. */
final class SyncAndServe(b: Bench, in: String, work: String) extends Journey(b) {
  private val fin = s"$work/fin"
  private val dirs = s"$work/dirs"
  private val finSchema = StructType(Seq(StructField("tax_id", StringType),
    StructField("fiscal_year", IntegerType), StructField("total_revenue", DoubleType),
    StructField("cost_of_goods_sold", DoubleType), StructField("net_profit", DoubleType)))
  private val dirSchema = StructType(Seq(StructField("id", LongType),
    StructField("tax_id", StringType), StructField("director_no", IntegerType),
    StructField("name", StringType)))

  private final case class Lookup(due: Double, kind: String, taxId: String, year: Int,
                                  to: Int, page: Int)
  private val schedule: Map[Int, Seq[Lookup]] = scala.io.Source
    .fromFile(s"$in/schedule.tsv", "UTF-8").getLines().filter(_.nonEmpty).map(_.split("\t"))
    .map(a => a(0).toInt -> Lookup(a(1).toDouble, a(2), a(3), a(4).toInt, a(5).toInt, a(6).toInt))
    .toSeq.groupBy(_._1).map { case (d, s) => d -> s.map(_._2) }

  private val cdc = s"$work/cdc"
  private var day = 0
  private val results = mutable.ArrayBuffer.empty[String]
  private val lookups = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val commits = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var windows: Array[Row] = Array.empty
  private var watermark = ""

  /** Streaming sources read `<dir>/events.parquet`, one parquet file per
    * generated CSV slice. */
  private def eventsDir(d: Int) = f"$work/events/day$d%02d"
  private def backlog(d: Int) = s"${eventsDir(d)}/events.parquet"

  private def readDirs(path: String): DataFrame =
    spark.read.schema(dirSchema).json(path)
      .withColumn("shard", substring(col("tax_id"), 13, 1).cast("int"))

  def prepare(): Unit = {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], finSchema)
    Sinks.writePartitionedStaged(
      Pipelines.dbdFinancial(spark, s"$in/day00/fin.json", empty), fin, "fiscal_year")
    Sinks.writePartitionedStaged(readDirs(s"$in/day00/dirs.jsonl"), dirs, "shard")
    val tmp = s"$work/events_tmp"
    spark.read.schema("event_id long, user_id long, event_type string, value double, ts long")
      .option("header", "true").csv(s"$in/day*/events")
      .withColumn("day", regexp_extract(input_file_name(), "day(\\d+)/events", 1).cast("int"))
      .withColumn("slice", regexp_extract(input_file_name(), "slice_(\\d+)", 1).cast("int"))
      .withColumn("ts", timestamp_micros(col("ts")))
      .repartition(col("slice"))
      .write.partitionBy("day", "slice").parquet(tmp)
    new java.io.File(tmp).listFiles.filter(_.getName.startsWith("day=")).foreach { dd =>
      val d = dd.getName.stripPrefix("day=").toInt
      Files.createDirectories(Paths.get(backlog(d)))
      dd.listFiles.filter(_.getName.startsWith("slice=")).foreach { sd =>
        val k = sd.getName.stripPrefix("slice=").toInt
        sd.listFiles.filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .zipWithIndex.foreach { case (f, j) =>
            Files.move(f.toPath, Paths.get(backlog(d), f"ev_$k%04d_$j.parquet"))
          }
      }
    }
    b.rmrf(tmp)
  }

  def pass(i: Int): Option[Double] = {
    day += 1
    require(schedule.contains(day), s"sync_and_serve: inputs hold no day $day")
    val d = f"$in/day$day%02d"
    val t0 = System.nanoTime()
    val years = Ingest.jsonPointer(spark, s"$d/fin.json", "/records")
      .select(col("fiscal_year").cast("int").as("fiscal_year")).distinct()
    val merged = b.op("pipelines.dbd") {
      val existing = spark.read.parquet(fin).join(years, Seq("fiscal_year"), "left_semi")
      stage(Pipelines.dbdFinancial(spark, s"$d/fin.json", existing))
    }
    b.op("sources.sink.staged") { Sinks.writePartitionedStaged(merged, fin, "fiscal_year") }
    val incoming = readDirs(s"$d/dirs.jsonl")
    val synced = b.op("operators.merge") {
      val existing = spark.read.parquet(dirs)
        .join(incoming.select("shard").distinct(), Seq("shard"), "left_semi")
      val (s, deleted) = Merge.replaceAllSyncScoped(existing, incoming, Seq("tax_id"), Seq("id"))
      stage(deleted, "deleted")
      stage(s)
    }
    b.op("sources.sink.staged") { Sinks.writePartitionedStaged(synced, dirs, "shard") }
    releaseStaged()
    val t1 = System.nanoTime()
    drain(day)
    val t2 = System.nanoTime()
    commits += Map("day" -> day, "commit_s" -> (t1 - t0) / 1e9, "traced" -> b.tracer.enabled,
      "warmup" -> b.warmup)
    // the untimed first day runs its burst three times, back to back: the
    // lookup paths keep getting faster over the first few hundred lookups
    (1 to (if (b.warmup) 3 else 1)).foreach(_ => burst(day, schedule(day)))
    Some((t2 - t0) / 1e9)
  }

  /** The day's CDC feed: order the day's files by event time, swap them
    * into the keyed snapshot, and count the day's closed windows. */
  private def drain(day: Int): Unit = {
    b.op("streaming.order") { EventsStream.orderBacklogByEventTime(spark, backlog(day)).count() }
    val q0 = b.tracer.terminatedCount
    val t0 = System.nanoTime()
    b.op("streaming.cdc") { EventsStream.streamCdcApply(spark, backlog(day), cdc, "*.parquet", 1) }
    val t1 = System.nanoTime()
    windows = b.op("streaming.tumbling") {
      EventsStream.tumblingCounts(spark, eventsDir(day), 300, 8).collect()
    }
    val t2 = System.nanoTime()
    b.tracer.awaitTerminated(q0 + 2)
    Seq("cdc" -> (t1 - t0), "tumbling" -> (t2 - t1)).zipWithIndex.foreach {
      case ((query, ns), k) =>
        val ps = b.tracer.progressOf(q0 + k)
        if (query == "tumbling") watermark = ps.lastOption.map(_.watermark).getOrElse("")
        drains += Map("day" -> day, "query" -> query, "run" -> ps.headOption.map(_.runId),
          "batches" -> ps.size, "drain_s" -> ns / 1e9,
          "trigger_ms" -> ps.map(_.durations.getOrElse("triggerExecution", 0L)),
          "traced" -> b.tracer.enabled, "warmup" -> b.warmup)
    }
  }

  // The serving side holds one handle per table and refreshes it after each
  // commit, as a long-running API process would.
  private var finTable: DataFrame = _
  private var dirTable: DataFrame = _

  private def runLookup(l: Lookup): Array[Row] = l.kind match {
    case "point" => CompanyQueries.companyFinancial(finTable, l.taxId, l.year).collect()
    case "range" =>
      CompanyQueries.companyFinancialAllYears(finTable, l.taxId, Some(l.year), Some(l.to)).collect()
    case "response" =>
      CompanyQueries.companyFinancialResponse(finTable, finTable, finTable, l.taxId).collect()
    case "page" =>
      val ds = dirTable.where(col("shard") === l.taxId.last.asDigit && col("tax_id") === l.taxId)
        .drop("shard")
      CompanyQueries.directorsPage(ds, l.page).collect()
  }

  private lazy val workers = java.util.concurrent.Executors.newFixedThreadPool(
    Runtime.getRuntime.availableProcessors(), (r: Runnable) => {
      val t = new Thread(r, "perfbench-lookup")
      t.setDaemon(true)
      t
    })

  /** Open loop: the generator thread submits lookup k at burst start +
    * due_k whatever the workers are doing; up to nproc workers serve the
    * queue. Latency counts from the due time, so queueing shows; the
    * generator's own lateness (submit - due) is reported as lag. */
  private def burst(day: Int, ls: Seq[Lookup]): Unit = {
    finTable = spark.read.parquet(fin)
    dirTable = spark.read.parquet(dirs)
    val start = System.nanoTime()
    val done = ls.zipWithIndex.map { case (l, k) =>
      // the untimed first day only warms the lookup paths: no schedule
      val due = if (b.warmup) start else start + (l.due * 1e6).toLong
      var now = System.nanoTime()
      while (now < due) {
        java.util.concurrent.locks.LockSupport.parkNanos(due - now)
        now = System.nanoTime()
      }
      val submitted = System.nanoTime()
      val traced = b.tracer.enabled
      workers.submit(() => {
        spark.sparkContext.clearJobTags()
        val began = System.nanoTime()
        val rows = b.tracer.span(s"operators.company_queries.${l.kind}") {
          val r = runLookup(l)
          b.tracer.count("rows", r.length.toDouble)
          r
        }
        val end = System.nanoTime()
        Map("day" -> day, "k" -> k, "kind" -> l.kind, "rows" -> rows.map(_.json).toSeq,
          "latency_ms" -> (end - due) / 1e6, "service_ms" -> (end - began) / 1e6,
          "lag_ms" -> (submitted - due) / 1e6, "traced" -> traced)
      })
    }
    done.foreach { f =>
      val r = f.get()
      results += PerfBench.json.writeValueAsString(
        Map("day" -> r("day"), "k" -> r("k"), "kind" -> r("kind"), "rows" -> r("rows")))
      if (!b.warmup) lookups += (r - "rows")
    }
  }

  def export(): Map[String, Any] = {
    val check = s"$work/check"
    spark.read.parquet(fin).coalesce(1).write.mode("overwrite").json(s"$check/fin")
    spark.read.parquet(dirs).drop("shard").coalesce(1).write.mode("overwrite").json(s"$check/dirs")
    writeLines(s"$check/lookups.jsonl", results)
    val micros = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    spark.read.parquet(cdc).coalesce(1).write.mode("overwrite")
      .option("timestampFormat", micros).json(s"$check/cdc")
    val all = spark.read.parquet((1 to day).map(backlog): _*)
    Merge.applyChangelogVersioned(all.where(lit(false)), all, Seq("user_id"),
      Seq("ts", "event_id"), col("event_type") === "error")
      .coalesce(1).write.mode("overwrite").option("timestampFormat", micros).json(s"$check/cdc_batch")
    writeLines(s"$check/windows.jsonl", windows.map(_.json))
    Map("fin" -> s"$check/fin", "dirs" -> s"$check/dirs", "lookups" -> s"$check/lookups.jsonl",
      "days" -> day, "table_bytes" -> b.diskBytes(fin), "cdc" -> s"$check/cdc",
      "cdc_batch" -> s"$check/cdc_batch", "windows" -> s"$check/windows.jsonl",
      "watermark" -> watermark)
  }

  override def extra(): Map[String, Any] =
    Map("lookups" -> lookups, "drains" -> drains, "commits" -> commits)
}

// ------------------------------------------------------------- dedup ---

/** Corpus dedup: exact digest, MinHash pairs, components, keep-best, write. */
final class CorpusDedup(b: Bench, in: String, work: String) extends Journey(b) {
  private val out = s"$work/kept"
  private val docSchema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("quality", LongType)))
  private var persistedMem = 0L
  private var persistedDisk = 0L
  private var components = 0L

  def prepare(): Unit = ()

  private def docs: DataFrame = spark.read.schema(docSchema).json(s"$in/docs.jsonl")

  def pass(i: Int): Option[Double] = {
    val exact = b.op("operators.dedup.exact") {
      val e = Dedup.exactByDigest(docs, "text", "id").persist(StorageLevel.MEMORY_AND_DISK)
      b.tracer.count("rows", e.count().toDouble)
      e
    }
    val pairs = b.op("operators.dedup.minhash_pairs") {
      val p = Dedup.minhashNearDupPairs(exact, "id", "text").persist(StorageLevel.MEMORY_AND_DISK)
      b.tracer.count("verified_pairs", p.count().toDouble)
      p
    }
    components = b.op("operators.dedup.components") {
      Dedup.connectedComponents(pairs, "id_a", "id_b").select("component").distinct().count()
    }
    val info = spark.sparkContext.getRDDStorageInfo
    persistedMem = math.max(persistedMem, info.map(_.memSize).sum)
    persistedDisk = math.max(persistedDisk, info.map(_.diskSize).sum)
    val kept = b.op("operators.dedup.keep_best") {
      stage(Dedup.dropNearDupsKeepBest(exact, "id", pairs, col("quality")))
    }
    b.op("sources.sink.parquet") { kept.write.mode("overwrite").parquet(out) }
    releaseStaged()
    graft.core.InternalCaches.release("dedup")
    pairs.unpersist()
    exact.unpersist()
    None
  }

  def export(): Map[String, Any] = {
    val check = s"$work/check"
    spark.read.parquet(out).select("id").coalesce(1).write.mode("overwrite").json(s"$check/kept")
    if (b.traced) // the verified pairs, for the traced run's pair precision
      Dedup.minhashNearDupPairs(Dedup.exactByDigest(docs, "text", "id"), "id", "text")
        .select("id_a", "id_b").coalesce(1).write.mode("overwrite").json(s"$check/pairs")
    Map("kept" -> s"$check/kept", "pairs" -> s"$check/pairs", "out_bytes" -> b.diskBytes(out))
  }

  override def extra(): Map[String, Any] = Map("persisted_mem_bytes" -> persistedMem,
    "persisted_disk_bytes" -> persistedDisk, "components" -> components)
}
