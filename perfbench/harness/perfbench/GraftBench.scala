package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkProbe
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{CommandResultExec, DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftExtensions, GraftSession, SparkEntry, Tables}
import graft.functions.GeoFunctions.{latOf, lonOf}
import graft.sources.{Exports, GeoJson, VectorTiles}

/** Closed-loop benchmark client: one thread, one `local[cores]` session,
  * each query produced in full through a parquet sink before the next
  * starts. Reads a JSON run config, writes a JSON run report; the Python
  * side (`perfbench/run.py`) does the oracle check and the arithmetic.
  *
  * Usage: GraftBench run <config.json> <report.json>
  *        GraftBench oracle <out.json>   (dump SparkEntry.oracleSql)
  */
object GraftBench {
  val SpanProp = "perfbench.span"
  /** Span id stamped on the harness's own measuring jobs (never counted). */
  val ProbeSpan = -2
  /** Deepest zoom of the exported tile pyramid (21 tiles at most). */
  val TileMaxZoom = 2

  /** `passes`: (key order, traced) of each pass, the `warmup` untimed
    * passes first; after those, at least `minPasses` timed passes run,
    * then more until the timed work reaches `seconds`, never ending on a
    * traced pass. */
  final case class Config(
      dataDir: String, outDir: String, tables: Seq[String],
      passes: Seq[(Seq[String], Boolean)], warmup: Int, minPasses: Int,
      seconds: Double, cores: Int, plant: String) {
    def trace: Boolean = passes.exists(_._2)
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("oracle", out) =>
      writeJson(out, JObject(SparkEntry.oracleSql.toList.sortBy(_._1)
        .map { case (k, sql) => k -> JString(sql) }))
    case Seq("run", cfgPath, out) =>
      val report = new Run(readConfig(cfgPath)).execute()
      writeJson(out, report)
    case _ =>
      System.err.println("usage: GraftBench run <config.json> <report.json> | oracle <out.json>")
      sys.exit(2)
  }

  def readConfig(path: String): Config = {
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    def str(k: String) = (j \ k) match { case JString(s) => s; case _ => "" }
    def num(k: String) = (j \ k) match {
      case JInt(v) => v.toDouble; case JDouble(v) => v; case JDecimal(v) => v.toDouble
      case _ => 0.0
    }
    def strs(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.collect { case JString(s) => s }; case _ => Nil
    }
    val passes = (j \ "passes") match {
      case JArray(xs) => xs.map(p => (strs(p \ "order"), (p \ "traced") == JBool(true)))
      case _ => Nil
    }
    Config(str("data_dir"), str("out_dir"), strs(j \ "tables"), passes,
      num("warmup").toInt, num("min_passes").toInt, num("seconds"),
      num("cores").toInt, str("plant"))
  }

  def writeJson(path: String, v: JValue): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.write(JsonMethods.compact(JsonMethods.render(v))) finally w.close()
  }

  /** Spans of the traced run: (id, parent, name, start ms, end ms). The
    * current span id rides the thread's Spark local property, so every
    * job a phase submits is attributed to that phase. */
  final class Tracer {
    final case class Span(id: Int, parent: Int, name: String, t0: Double, var t1: Double)
    private val nano0 = System.nanoTime()
    private val ms0 = System.currentTimeMillis().toDouble
    val spans = mutable.ArrayBuffer[Span]()
    private val stack = mutable.Stack[Int]()
    var enabled = false
    var sc: SparkContext = _
    def now(): Double = ms0 + (System.nanoTime() - nano0) / 1e6
    def current: Int = stack.headOption.getOrElse(-1)
    private def stamp(id: Int): Unit =
      if (sc != null) sc.setLocalProperty(SpanProp, if (id < 0) null else id.toString)
    def span[T](name: String)(body: => T): T =
      if (!enabled) body
      else {
        val s = Span(spans.size, current, name, now(), -1)
        spans += s
        stack.push(s.id); stamp(s.id)
        try body
        finally { s.t1 = now(); stack.pop(); stamp(current) }
      }
    def json: JValue = JArray(spans.toList.map(s => JObject(
      "id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
      "t0" -> JDouble(s.t0), "t1" -> JDouble(s.t1))))
  }

  /** Per-job totals, attributed to the span that submitted the job, plus
    * the pinned-block bookkeeping. Everything runs on the listener-bus
    * thread; readers drain the bus first and read under the lock. */
  final class JobRec(val id: Int, val span: Int, val t0: Long) {
    var t1 = -1L
    val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  }

  final class Listener extends SparkListener {
    val jobs = mutable.ArrayBuffer[JobRec]()
    private val stageJob = mutable.Map[Int, JobRec]()
    private val jobById = mutable.Map[Int, JobRec]()
    private val rddBlocks = mutable.Map[String, Long]()
    private def setBlock(name: String, size: Long): Unit = {
      rddBytes += size - rddBlocks.getOrElse(name, 0L)
      if (size == 0L) rddBlocks.remove(name) else rddBlocks(name) = size
      rddPeak = math.max(rddPeak, rddBytes)
    }
    var rddBytes = 0L
    var rddPeak = 0L
    val pinnedSeen = mutable.Set[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, span, e.time)
      jobs += j; jobById(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.c("stages") += 1)
      e.stageInfo.rddInfos.filter(_.storageLevel != StorageLevel.NONE)
        .foreach(r => pinnedSeen += r.id)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).foreach { j =>
        val c = j.c
        c("tasks") += 1
        c("run_ms") += m.executorRunTime
        c("cpu_ns") += m.executorCpuTime
        c("gc_ms") += m.jvmGCTime
        c("input_bytes") += m.inputMetrics.bytesRead
        c("input_rows") += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) c("scan_tasks") += 1
        c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        c("spill_disk_bytes") += m.diskBytesSpilled
        c("spill_mem_bytes") += m.memoryBytesSpilled
        c("output_bytes") += m.outputMetrics.bytesWritten
        c("output_rows") += m.outputMetrics.recordsWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD)
        setBlock(b.blockId.name, if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L)
    }
    // an unpersist drops its blocks without per-block updates
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
      rddBlocks.keys.filter(_.startsWith(s"rdd_${e.rddId}_")).toList.foreach(setBlock(_, 0L))
    }
    def resetQuery(): Unit = synchronized { rddPeak = rddBytes; pinnedSeen.clear() }

    def json: JValue = synchronized {
      JArray(jobs.toList.map(j => JObject(List(
        "id" -> JInt(j.id), "span" -> JInt(j.span),
        "t0" -> JDouble(j.t0.toDouble), "t1" -> JDouble(j.t1.toDouble)) ++
        j.c.toList.map { case (k, v) => k -> JDouble(v) })))
    }
  }

  /** Result plans seen by the session (the write command's executed plan
    * carries the final adaptive plan and its SQL metrics). */
  final class PlanCatcher extends QueryExecutionListener {
    val plans = mutable.ArrayBuffer[SparkPlan]()
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      plans.synchronized { plans += qe.executedPlan }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Every node of a physical plan, through adaptive wrappers, query
    * stages, command results and subqueries. A reused exchange is a leaf,
    * so an exchange planned once and read twice counts once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => Nil
    }
    p +: (inner ++ p.children ++ p.subqueries).flatMap(nodes)
  }

  def planCounts(p: SparkPlan): Map[String, Double] = {
    val ns = nodes(p)
    Map(
      "exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
      "broadcasts" -> ns.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble,
      "sort_merge_joins" -> ns.count(_.isInstanceOf[SortMergeJoinExec]).toDouble,
      "scans" -> ns.count(_.isInstanceOf[DataSourceScanExec]).toDouble)
  }

  def isWrite(p: SparkPlan): Boolean =
    nodes(p).exists(n => n.nodeName.contains("DataWritingCommand") ||
      n.nodeName.contains("WriteFiles"))

  /** graft's radius join is a broadcast hash join on cell keys whose
    * condition tests the distance against the replicated side's
    * `_rlat`/`_rlon`. Re-running each such join as an inner join, without
    * and with its condition, gives the bucket candidates and the pairs
    * the distance predicate keeps. */
  def radiusJoinCounts(p: SparkPlan): Option[(Long, Long)] = {
    val joins = nodes(p).collect {
      case j: BroadcastHashJoinExec
          if j.condition.exists(_.references.exists(_.name == "_rlat")) => j
    }
    if (joins.isEmpty) None
    else Some(joins.foldLeft((0L, 0L)) { case ((cand, kept), j) =>
      (cand + j.copy(joinType = Inner, condition = None).execute().count(),
        kept + j.copy(joinType = Inner).execute().count())
    })
  }

  /** Order-independent content hash of a frame over `cols`: row count and
    * the sum of each row's 32-bit hash (a sum of 32-bit values cannot
    * overflow a long). */
  def checksum(df: DataFrame, cols: Seq[Column]): (Long, Long) = {
    val h = xxhash64(cols: _*).bitwiseAND(lit(0xffffffffL))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  final class Run(cfg: Config) {
    private val tracer = new Tracer
    private var listener: Listener = _
    private var catcher: PlanCatcher = _
    private var storagePeak = 0L
    private val queryRecs = mutable.ArrayBuffer[JValue]()
    private val passRecs = mutable.ArrayBuffer[JValue]()

    private lazy val spark: SparkSession = {
      val b = SparkSession.builder().master(s"local[${cfg.cores}]").appName("perfbench")
        .config("spark.local.dir", new File(cfg.outDir, "spark-local").getAbsolutePath)
      val s = GraftSession.configure(b, cfg.cores.toString)
        .withExtensions(new GraftExtensions).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def execute(): JValue = {
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
      tracer.enabled = cfg.trace
      val t0 = System.nanoTime()
      tracer.span("GraftSession.start") { spark }
      val startS = (System.nanoTime() - t0) / 1e9
      tracer.sc = spark.sparkContext
      if (cfg.trace) {
        listener = new Listener
        catcher = new PlanCatcher
        spark.listenerManager.register(catcher)
      }
      tracer.enabled = false
      openInputs()
      val (warm, timed) = cfg.passes.splitAt(cfg.warmup)
      warm.zipWithIndex.foreach { case ((order, _), i) =>
        val w = runPass(i - cfg.warmup, order, traced = false)
        log(f"warm-up pass ${i + 1}: $w%.2f s")
        deleteTree(new File(cfg.outDir, s"pass_${i - cfg.warmup}"))
      }
      val j0 = System.nanoTime()
      awaitJitIdle()
      log(f"JIT idle after ${(System.nanoTime() - j0) / 1e9}%.2f s")
      val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

      var measuredS = 0.0
      var p = 0
      while (p < timed.size &&
          (p < cfg.minPasses || measuredS < cfg.seconds || timed(p - 1)._2)) {
        if (p > 0) deleteTree(new File(new File(cfg.outDir, s"pass_${p - 1}"), "exports"))
        measuredS += runPass(p, timed(p)._1, timed(p)._2)
        p += 1
      }
      val v0 = System.nanoTime()
      val exportChecks = if (p > 0) verifyExports(p - 1) else JNull
      log(f"export read-back: ${(System.nanoTime() - v0) / 1e9}%.2f s")
      if (cfg.trace) SparkProbe.drainListenerBus(spark.sparkContext)
      val rt = Runtime.getRuntime
      val report = JObject(
        "setup_s" -> JDouble(setupS),
        "session_start_s" -> JDouble(startS),
        "storage_peak_bytes" -> JDouble(storagePeak.toDouble),
        "passes" -> JArray(passRecs.toList),
        "export_checks" -> exportChecks,
        "queries" -> JArray(queryRecs.toList),
        "spans" -> tracer.json,
        "jobs" -> (if (listener == null) JArray(Nil) else listener.json),
        "env" -> JObject(
          "cpus" -> JInt(rt.availableProcessors()),
          "cores" -> JInt(cfg.cores),
          "heap_max_mb" -> JDouble(rt.maxMemory() / 1048576.0),
          "java" -> JString(System.getProperty("java.version")),
          "spark" -> JString(spark.version),
          "scala" -> JString(scala.util.Properties.versionNumberString)))
      spark.stop()
      report
    }

    /** The warm-up pass leaves the JIT compiling hot paths on background
      * threads; timing starts once its compile time stops growing (200 ms
      * with under 5 ms of compilation, at most 10 s), so the first timed
      * query does not share the cores with the compiler. */
    private def awaitJitIdle(): Unit = {
      val jit = ManagementFactory.getCompilationMXBean
      val deadline = System.nanoTime() + 10000000000L
      var last = jit.getTotalCompilationTime
      var idle = false
      while (!idle && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val now = jit.getTotalCompilationTime
        idle = now - last < 5
        last = now
      }
    }

    /** Open each input table the workload reads (schema and footer reads). */
    private def openInputs(): Unit =
      cfg.tables.foreach(t => Tables.load(spark, cfg.dataDir, t).count())

    /** Between queries (untimed): drop what the last query left pinned,
      * cached or broadcast, and collect, so a query neither pays for an
      * earlier one's garbage nor finds its blocks in storage memory. */
    private def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      SparkProbe.dropBroadcasts()
      System.gc()
    }

    /** Storage memory (pins plus broadcasts) at the end of a timed
      * materialization or sink, when the query's broadcasts and the pins
      * its result reads are all still resident. Not read right after the
      * operator call: an operator's non-blocking unpersist may or may not
      * have landed by then, so that reading depends on timing. */
    private def markStorage(pass: Int): Unit =
      if (pass >= 0) storagePeak = math.max(storagePeak, SparkProbe.storageMemoryUsed())

    /** One pass over `order` plus the exports; returns its timed seconds. */
    private def runPass(pass: Int, order: Seq[String], traced: Boolean): Double = {
      val passDir = new File(cfg.outDir, s"pass_$pass")
      tracer.enabled = traced
      if (traced) spark.sparkContext.addSparkListener(listener)
      var timed = 0.0
      tracer.span("pass") {
        order.foreach { key => timed += runQuery(pass, key, new File(passDir, key).getPath, traced) }
        timed += runExports(pass, passDir, traced)
      }
      if (traced) {
        SparkProbe.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      tracer.enabled = false
      if (pass >= 0) passRecs += JObject("pass" -> JInt(pass), "traced" -> JBool(traced),
        "pass_s" -> JDouble(timed), "order" -> JArray(order.toList.map(JString(_))))
      timed
    }

    /** One query: build (the operator call), plan (traced only), then
    * materialize through the parquet sink. Returns its wall seconds. */
    private def runQuery(pass: Int, key: String, out: String, traced: Boolean): Double = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      if (traced) {
        SparkProbe.drainListenerBus(spark.sparkContext)
        listener.resetQuery()
        catcher.plans.synchronized(catcher.plans.clear())
      }
      var planS = 0.0
      var error: Option[String] = None
      val spanId = tracer.spans.size
      val t0 = System.nanoTime()
      try tracer.span(s"query:$key") {
        val built = tracer.span("build") { SparkEntry.queries(key)(spark, cfg.dataDir) }
        val df = if (key == cfg.plant) built.union(built.limit(1)) else built
        if (traced) {
          val p0 = System.nanoTime()
          tracer.span("plan") { df.queryExecution.executedPlan }
          planS = (System.nanoTime() - p0) / 1e9
        }
        tracer.span("materialize") { df.write.mode("overwrite").parquet(out) }
        markStorage(pass)
      } catch { case NonFatal(e) => error = Some(describe(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      var layers = List[(String, JValue)]()
      if (traced) {
        SparkProbe.drainListenerBus(spark.sparkContext)
        val plans = catcher.plans.synchronized(catcher.plans.toList)
        val written = plans.filter(isWrite).lastOption
        val counts = written.map(planCounts).getOrElse(Map.empty)
        val prev = spark.sparkContext.getLocalProperty(SpanProp)
        spark.sparkContext.setLocalProperty(SpanProp, ProbeSpan.toString)
        val geo = try written.flatMap(radiusJoinCounts) catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $key: radius-join probe failed: $e"); None }
        spark.sparkContext.setLocalProperty(SpanProp, prev)
        val pins = listener.synchronized {
          (listener.pinnedSeen.toSet ++ leaked, listener.rddPeak) }
        layers = List(
          "span" -> JInt(spanId),
          "plan_s" -> JDouble(planS),
          "plan" -> JObject(counts.toList.map { case (k, v) => k -> JDouble(v) }),
          "pins_created" -> JInt(pins._1.size),
          "pins_peak_bytes" -> JDouble(pins._2.toDouble)) ++
          geo.toList.flatMap { case (c, k) =>
            List("geo_candidates" -> JInt(c), "geo_kept" -> JInt(k)) }
      }
      release()
      if (pass >= 0) queryRecs += JObject(List(
        "pass" -> JInt(pass), "key" -> JString(key), "traced" -> JBool(traced),
        "wall_s" -> JDouble(wall), "path" -> JString(out),
        "error" -> error.map(JString(_)).getOrElse(JNull),
        "pins_leaked" -> JInt(leaked.size)) ++ layers)
      wall
    }

    /** The pass's door-to-door ETA (one row per origin: access point
      * `src`, `eta_s`) with coordinates and admin area: the source every
      * export writes. */
    private def exportSource(passDir: File): DataFrame =
      spark.read.parquet(new File(passDir, "geo_route_door").getPath)
        .join(Tables.customer(spark, cfg.dataDir).select(col("c_custkey"), col("c_nationkey")),
          "c_custkey")
        .withColumn("lat", latOf(col("c_custkey")))
        .withColumn("lon", lonOf(col("c_custkey")))

    private def exportPath(passDir: File, name: String): String =
      new File(new File(passDir, "exports"), name).getPath

    /** The RAM project's export step over the pass's ETA result: flat
      * CSV, grouped JSON per admin area, a GeoJSON FeatureCollection and
      * a vector-tile pyramid. Returns the timed seconds. */
    private def runExports(pass: Int, passDir: File, traced: Boolean): Double = {
      val dir = new File(passDir, "exports")
      dir.mkdirs()
      def path(n: String) = exportPath(passDir, n)
      val t0 = System.nanoTime()
      val error = try {
        tracer.span("query:export") {
          val e = tracer.span("build") { exportSource(passDir) }
          def sink(name: String)(write: => Unit): Unit = {
            tracer.span(s"sink:$name")(write)
            markStorage(pass)
          }
          sink("writeFlatCsv") { Exports.writeFlatCsv(e, path("csv")) }
          sink("writeGroupedJson") { Exports.writeGroupedJson(e, "c_nationkey", path("json")) }
          sink("writeFeatureCollection") {
            GeoJson.writeFeatureCollection(e, "lon", "lat", path("eta.geojson")) }
          sink("writePyramid") {
            VectorTiles.writePyramid(e, 0, TileMaxZoom, path("tiles"), "c_custkey",
              Seq("src", "eta_s")) }
        }
        None
      } catch { case NonFatal(e) => Some(describe(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      if (pass >= 0) passRecs += JObject(
        "pass" -> JInt(pass), "export" -> JBool(true), "traced" -> JBool(traced),
        "export_s" -> JDouble(wall), "output_bytes" -> JInt(treeBytes(dir)),
        "error" -> error.map(JString(_)).getOrElse(JNull))
      release()
      wall
    }

    /** Read the last timed pass's exports back (untimed) and compare each
      * with its source. Every pass writes the same exports from the same
      * code, so one read-back per run checks the sinks without adding a
      * read-back to every pass. */
    private def verifyExports(pass: Int): JValue = {
      val passDir = new File(cfg.outDir, s"pass_$pass")
      val prev = spark.sparkContext.getLocalProperty(SpanProp)
      spark.sparkContext.setLocalProperty(SpanProp, ProbeSpan.toString)
      try {
        val eta = exportSource(passDir)
        val src = checksum(eta, eta.columns.toSeq.map(col))
        val checks = checkExports(eta, src, exportPath(passDir, _))
        JObject("pass" -> JInt(pass), "rows" -> JInt(src._1),
          "checks" -> JObject(checks.toList.map { case (k, v) => k -> JBool(v) }),
          "error" -> JNull)
      } catch { case NonFatal(e) =>
        JObject("pass" -> JInt(pass), "rows" -> JInt(0), "checks" -> JObject(),
          "error" -> JString(describe(e)))
      } finally spark.sparkContext.setLocalProperty(SpanProp, prev)
    }

    /** Read each export back and compare its content hash with the
      * source's (same columns, same types). */
    private def checkExports(eta: DataFrame, src: (Long, Long),
                             path: String => String): Seq[(String, Boolean)] = {
      val schema = eta.schema
      val names = eta.columns.toSeq
      def typed(df: DataFrame) = df.select(names.map(n => col(n).cast(schema(n).dataType).as(n)): _*)
      def same(df: DataFrame) = checksum(typed(df), names.map(col)) == src
      val csv = spark.read.option("header", "true").schema(schema).csv(path("csv"))
      val payload = StructType(schema.fields.filterNot(_.name == "c_nationkey"))
      val json = spark.read.text(path("json"))
        .select(split(col("value"), ": ", 2).as("kv"))
        .select(col("kv").getItem(0).as("c_nationkey"),
          explode(from_json(col("kv").getItem(1), ArrayType(payload))).as("r"))
        .select(col("c_nationkey"), col("r.*"))
      val geo = spark.read.option("multiLine", "true").json(path("eta.geojson"))
        .select(explode(col("features")).as("f"))
        .select(col("f.properties.*"), col("f.geometry.coordinates").getItem(0).as("lon"),
          col("f.geometry.coordinates").getItem(1).as("lat"))
      val tileCols = Seq("z", "tile_x", "tile_y", "id", "qx", "qy", "src", "eta_s")
        .map(c => col(c).cast("double"))
      val tilesBack = VectorTiles.readTiles(spark, path("tiles"))
        .withColumn("src", col("props").getItem("src"))
        .withColumn("eta_s", col("props").getItem("eta_s"))
      val tilesSrc = VectorTiles.tilePyramid(eta, 0, TileMaxZoom).withColumnRenamed("c_custkey", "id")
      Seq(
        "csv" -> same(csv),
        "grouped_json" -> same(json),
        "geojson" -> same(geo),
        "tiles" -> (checksum(tilesBack, tileCols) == checksum(tilesSrc, tileCols)))
    }
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
