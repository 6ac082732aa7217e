package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.sources.Xlsx
import graft.streaming.WarehouseStream
import graft.warehouse.{Statements, Warehouse}

/** JVM side of the benchmark: one process, one client thread, a closed loop.
  * It runs a workload's operations for the given seconds and writes what it
  * measured, plus the values the Python side checks, to one JSON file.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * out (result JSON), run-dir (scratch space); for query_sweep data (the
  * dataset) and queries (comma-separated); for monthly_load plan (TSV),
  * history-rows and warmup-loads. */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val h = new Harness(a)
    try h.run() finally h.stop()
  }

  /** Modules that register queries, in SparkEntry's order. */
  def modules: Seq[(String, Set[String])] = {
    import graft.operators._
    Seq("Relational" -> Relational.queries, "TpchExtra" -> TpchExtra.queries,
      "Analytics" -> Analytics.queries, "Warehouse" -> Warehouse.queries,
      "TextAnalysis" -> TextAnalysis.queries, "TextStats" -> TextStats.queries,
      "TrainPrep" -> TrainPrep.queries, "Bpe" -> Bpe.queries, "Dedup" -> Dedup.queries,
      "Ann" -> Ann.queries, "Graph" -> Graph.queries, "Layout" -> Layout.queries,
      "EventStreams" -> graft.streaming.EventStreams.queries,
      "Multimodal" -> Multimodal.queries).map { case (m, q) => m -> q.keySet }
  }

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** Per-job-group counts from the Spark scheduler (traced phase only). */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var shuffleWrite, shuffleRead, spillMemory, spillDisk = 0L
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

final class Counters extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]

  def get(g: String): GroupStats = synchronized(groups.getOrElse(g, new GroupStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val s = groups.getOrElseUpdate(g, new GroupStats)
    s.jobs += 1
    e.stageIds.foreach(id => stageGroup(id) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => groups(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = groups(g)
      s.tasks += 1
      s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spillMemory += m.memoryBytesSpilled
        s.spillDisk += m.diskBytesSpilled
      }
    }
  }
}

/** Plan phases and execution time of every query execution, keyed by the
  * operation that was current when the event arrived, plus the writes of
  * the program's per-process staged tables (temp dirs named `graft-*`,
  * except the per-query `graft-ephem-*`). */
final class Phases extends QueryExecutionListener {
  @volatile var op: Int = -1
  val perOp = mutable.Map.empty[Int, Array[Double]] // analysis, optimization, planning, exec
  var stagedFillS = 0.0

  private def stagedWrite(qe: QueryExecution): Boolean =
    scala.util.Try(qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName
    }).toOption.flatten.exists(n => n.startsWith("graft-") && !n.startsWith("graft-ephem-"))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (stagedWrite(qe)) stagedFillS += durationNs / 1e9
      val p = perOp.getOrElseUpdate(op, new Array[Double](4))
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").zipWithIndex.foreach { case (k, i) =>
        ph.get(k).foreach(s => p(i) += s.durationMs / 1e3)
      }
      p(3) += durationNs / 1e9
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

final case class Span(name: String, startUs: Long, endUs: Long, parent: Int, op: Int)

final class Harness(a: Map[String, String]) {
  import Harness.nowUs

  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a.get("trace").contains("1")
  private val runDir = Paths.get(a("run-dir"))
  private val cpus = Runtime.getRuntime.availableProcessors()

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var spansOn = traced
  private var currentOp = -1

  /** Times `f`; records a span only while tracing is on. */
  private def span[T](name: String)(f: => T): T = {
    val t0 = nowUs
    if (!spansOn) f
    else {
      val id = spans.length
      spans += Span(name, t0, t0, if (open.isEmpty) -1 else open.top, currentOp)
      open.push(id)
      try f finally {
        open.pop()
        spans(id) = spans(id).copy(endUs = nowUs)
      }
    }
  }

  private val t0Us = nowUs
  private val spark: SparkSession = span("GraftSession.start") {
    GraftSession.builder(master = s"local[$cpus]", sfDir = a.getOrElse("data", ""))
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionStartS = (nowUs - t0Us) / 1e6
  private val sc = spark.sparkContext

  private val counters = new Counters
  private val phases = new Phases
  if (traced) spark.listenerManager.register(phases)

  private val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val checks = mutable.LinkedHashMap.empty[String, Any]
  private val layers = mutable.LinkedHashMap.empty[String, Any]
  private var firstOpUs = 0L

  def stop(): Unit = spark.stop()

  def run(): Unit = {
    workload match {
      case "monthly_load" => monthlyLoad()
      case "query_sweep" => sweep()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    layers("staged.fill_s") = phases.stagedFillS
    write()
  }

  // ------------------------------------------------------------------ loop

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `step` on successive operations until the deadline has passed and
    * at least `minOps` ran, or `step` reports there is nothing left. */
  private def loop(deadlineUs: Long, minOps: Int)(step: Int => Boolean): Unit = {
    var i = 0
    var more = true
    while (more && (nowUs < deadlineUs || i < minOps)) { more = step(i); i += 1 }
  }

  /** Common per-operation record; in the traced phase it also carries the
    * scheduler counts of the op's job groups and its plan phases. Every
    * operation starts with an empty generated-code cache, so it compiles
    * all of its generated classes, as a month-end job does in its fresh
    * process. Otherwise what an operation reuses depends on how the
    * classes of earlier ones hash into Spark's small segmented cache. */
  private def record(id: Int, name: String, phase: String)(body: mutable.LinkedHashMap[String, Any] => Unit): Unit = {
    val r = mutable.LinkedHashMap[String, Any]("id" -> id, "name" -> name, "phase" -> phase)
    val tracing = phase == "traced"
    currentOp = id
    phases.op = id
    PerfbenchBus.clearCodegenCache()
    val gc0 = gcMs
    val jit0 = jitMs
    val compiles0 = compiles
    try { body(r); r("ok") = true }
    catch { case NonFatal(e) =>
      r("ok") = false
      r("err") = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
    }
    sc.clearJobGroup()
    r("jit_s") = (jitMs - jit0) / 1e3
    r("codegen_compiles") = compiles - compiles0
    r("gc_s") = (gcMs - gc0) / 1e3
    if (tracing) {
      PerfbenchBus.drain(sc)
      val groups = Seq(s"op$id:c", s"op$id:x", s"op$id").map(counters.get)
      r("construct_jobs") = groups.head.jobs
      r("jobs") = groups.map(_.jobs).sum
      r("stages") = groups.map(_.stages).sum
      r("tasks") = groups.map(_.tasks).sum
      r("shuffle_write_mb") = groups.map(_.shuffleWrite).sum / 1e6
      r("shuffle_read_mb") = groups.map(_.shuffleRead).sum / 1e6
      r("spill_memory_mb") = groups.map(_.spillMemory).sum / 1e6
      r("spill_disk_mb") = groups.map(_.spillDisk).sum / 1e6
      val stagesMs = groups.flatMap(_.taskMs.values)
      if (stagesMs.nonEmpty) {
        val worst = stagesMs.maxBy(_.sum)
        val sorted = worst.sorted
        r("task_skew") = sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2))
      }
      val p = phases.synchronized(phases.perOp.getOrElse(id, new Array[Double](4)))
      r("analysis_s") = p(0); r("optimization_s") = p(1)
      r("planning_s") = p(2); r("exec_s") = p(3)
    }
    ops += r
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Ends the warm-up. A traced run then alternates untraced and traced
    * operations, so both see the same warm-up state and trace.overhead
    * compares like with like; listeners are attached only while an
    * operation is traced. */
  private def warmupDone(): Unit = {
    if (traced) spark.listenerManager.unregister(phases)
    spansOn = false
  }

  private def phase(traceThis: Boolean): String = {
    if (traceThis != spansOn) {
      if (traceThis) {
        spark.listenerManager.register(phases)
        sc.addSparkListener(counters)
      } else {
        PerfbenchBus.drain(sc)
        spark.listenerManager.unregister(phases)
        sc.removeSparkListener(counters)
      }
      spansOn = traceThis
    }
    if (!traced) "timed" else if (traceThis) "traced" else "untraced"
  }

  // ---------------------------------------------------------------- sweeps

  private def sweep(): Unit = {
    val data = a("data")
    val registry = SparkEntry.queries
    val names = a("queries").split(",").toSeq
    val order = new scala.util.Random(seed).shuffle(names)
    val moduleOf = Harness.modules.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap

    def query(id: Int, name: String, phase: String): Unit = record(id, name, phase) { r =>
      r("module") = moduleOf.getOrElse(name, "")
      val tracing = phase == "traced"
      val fn = registry.getOrElse(name, throw new NoSuchElementException(s"$name not registered"))
      span("op") {
        val t0 = System.nanoTime()
        if (tracing) sc.setJobGroup(s"op$id:c", name)
        val df = span("SparkEntry.construct")(fn(spark, data))
        r("construct_s") = secs(t0)
        if (tracing) sc.setJobGroup(s"op$id:x", name)
        val rows = span("collect")(df.collect())
        r("secs") = secs(t0)
        val (n, h) = Fingerprint.of(rows)
        r("rows") = n; r("hash") = h
      }
    }

    var id = 0
    span("warmup")(order.foreach { n => query(id, n, "warmup"); id += 1 })
    warmupDone()
    if (traced) {
      // the statements -> ffill -> fact prefix every in-query fin_* query re-runs
      val t0 = System.nanoTime()
      noop(Warehouse.fact(spark, data))
      layers("Warehouse.derive_s") = secs(t0)
    }
    firstOpUs = nowUs
    val endUs = firstOpUs + (seconds * 1e6).toLong
    val n = order.length
    // untraced: at least three timed runs of every query, so each has a
    // median; traced: position parity flipped every pass, so each query
    // runs both ways
    loop(endUs, if (traced) 2 * n else 3 * n) { i =>
      query(id, order(i % n), phase(traced && (i % n + i / n) % 2 == 1))
      id += 1
      true
    }
    phase(false)
  }

  // ---------------------------------------------------------- monthly load

  /** Untimed loads before the timed ones (perfbench/workbook.py sets it). */
  private lazy val WarmupLoads = a("warmup-loads").toInt
  private val tableDir = runDir.resolve("warehouse").toString
  private val FactCols = Seq("gl_code", "category", "year", "month", "department", "amount", "pos", "batch")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Pristine history: 10 years x 12 months x 20 departments x `history-rows`
    * GL rows, all distinct keys, batch 0. perfbench/workbook.py holds the
    * same formula for the expected per-month sums. */
  private def history: DataFrame = {
    val r = a("history-rows").toLong
    val half = r / 2
    val perMonth = 20 * r
    spark.range(0, 120 * perMonth).select(
      expr(s"lpad(CAST((id % $r % $half) * 19 + 7 AS STRING), 4, '0')").as("gl_code"),
      expr(s"IF(id % $r < $half, 'Revenue', 'Expenses')").as("category"),
      expr(s"CAST(2015 + (id div $perMonth) div 12 AS INT)").as("year"),
      expr(s"CAST((id div $perMonth) % 12 + 1 AS INT)").as("month"),
      expr(s"CAST(100 + (id % $perMonth) div $r AS STRING)").as("department"),
      expr("CAST((id * 2654435761) % 999983 - 250000 AS DOUBLE) / 100.0").as("amount"),
      expr(s"id % $r + 3").as("pos"),
      lit(0L).as("batch"))
  }

  private final case class PlanOp(k: Int, kind: String, year: Int, month: Int, dir: String)

  /** Fact rows of one delivered workbook, stamped with the batch number its
    * file name carries ("Financials mm.yyyy b<stamp>.xlsx"). Reading the
    * stamp from the data rather than writing it as a literal keeps the
    * generated code the same for every load. */
  private def incoming(op: PlanOp): DataFrame =
    Warehouse.factFrom(Xlsx.statementsXlsx(spark, op.dir))
      .withColumn("batch", regexp_extract(col("file"), " b(\\d+)\\.xlsx$", 1).cast("long"))
      .select(FactCols.map(col): _*)

  /** The reference's 8-column Final sheet for the month just loaded. */
  private def finalSheet(op: PlanOp): Array[Row] =
    WarehouseStream.currentTable(spark, tableDir).get
      .filter(col("year") === op.year && col("month") === op.month)
      .join(broadcast(Statements.glReference(spark)), Seq("gl_code"), "left")
      .select(col("gl_code"), coalesce(col("description"), lit("")).as("description"),
        col("category"), coalesce(col("gl_group"), lit("")).as("gl_group"), col("year"),
        date_format(make_date(lit(2000), col("month"), lit(1)), "MMMM").as("month"),
        col("department"), col("amount"))
      .orderBy(col("year"), col("department"), col("category"), col("gl_code"))
      .collect()

  private def table: DataFrame = spark.read.parquet(tableDir)

  private def checksum(): String = {
    val r = table.agg(count(lit(1)),
      sum(xxhash64(FactCols.map(col): _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  private def dataFiles: Seq[Path] = {
    val s = Files.walk(Paths.get(tableDir))
    try {
      val it = s.iterator()
      val b = Seq.newBuilder[Path]
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")) b += p
      }
      b.result()
    } finally s.close()
  }

  private def awaitFile(p: Path): Unit = {
    val limit = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(p)) {
      if (System.nanoTime() > limit) throw new IllegalStateException(s"$p never appeared")
      Thread.sleep(10)
    }
  }

  private def monthlyLoad(): Unit = {
    val plan = scala.io.Source.fromFile(a("plan")).getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      PlanOp(f(0).toInt, f(1), f(2).toInt, f(3).toInt, f(4))
    }.toIndexedSeq

    span("history")(WarehouseStream.mergeIntoTable(spark, history, tableDir))

    def close(op: PlanOp, phase: String): Unit = record(op.k, op.kind, phase) { r =>
      awaitFile(Paths.get(op.dir).resolve(".ready"))
      val before = if (op.kind == "replay") checksum() else ""
      span("op") {
        val tracing = phase == "traced"
        if (tracing) {
          // nested prefixes give each layer's self time in the traced run
          // each prefix starts from an empty generated-code cache, as the
          // full load does, so their differences are self times
          val t0 = System.nanoTime()
          phases.op = -1
          sc.setJobGroup(s"op${op.k}:p", op.kind)
          val st = span("Xlsx.statementsXlsx")(Xlsx.statementsXlsx(spark, op.dir))
          span("Xlsx.statementsXlsx.run")(noop(st))
          r("parse_s") = secs(t0)
          PerfbenchBus.clearCodegenCache()
          val t1 = System.nanoTime()
          span("Warehouse.factFrom.run")(noop(Warehouse.factFrom(Xlsx.statementsXlsx(spark, op.dir))))
          r("prefix_fact_s") = secs(t1)
          sc.clearJobGroup()
          r("statement_rows") = st.count()
          r("fact_rows") = incoming(op).count()
          PerfbenchBus.drain(sc)
          phases.op = op.k
          sc.setJobGroup(s"op${op.k}", op.kind)
          PerfbenchBus.clearCodegenCache()
        }
        val t0 = System.nanoTime()
        span("WarehouseStream.mergeIntoTable")(WarehouseStream.mergeIntoTable(spark, incoming(op), tableDir))
        r("load_s") = secs(t0)
        if (tracing) {
          val files = dataFiles
          r("table_files") = files.length
          r("table_bytes") = files.map(Files.size).sum
        }
        val t1 = System.nanoTime()
        val rows = span("WarehouseStream.currentTable")(finalSheet(op))
        r("read_s") = secs(t1)
        r("secs") = secs(t0)
        r("read_rows") = rows.length
        r("read_cents") = rows.map(x => math.round(x.getDouble(7) * 100)).sum
      }
      if (op.kind == "replay") { r("checksum_before") = before; r("checksum_after") = checksum() }
    }

    span("warmup")(plan.take(WarmupLoads).foreach(close(_, "warmup")))
    warmupDone()
    awaitFile(Paths.get(a("plan") + ".ready"))
    firstOpUs = nowUs
    val endUs = firstOpUs + (seconds * 1e6).toLong
    var k = WarmupLoads
    loop(endUs, if (traced) 4 else 1) { i =>
      if (k >= plan.length) false
      else { close(plan(k), phase(traced && i % 2 == 1)); k += 1; true }
    }
    phase(false)

    val files = dataFiles
    val months = table.groupBy("year", "month")
      .agg(count(lit(1)).as("n"), sum(round(col("amount") * 100).cast("long")).as("cents"))
      .collect().map(r => Seq(r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    checks("months") = months.toSeq.sortBy(m => (m(0), m(1)))
    checks("ops_loaded") = k
    layers("WarehouseStream.table_files") = files.length
    layers("stored_bytes") = files.map(Files.size).sum
    layers("live_rows") = months.map(_(2)).sum
  }

  // ---------------------------------------------------------------- output

  private def peakRssKb: Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  private def write(): Unit = {
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cpus" -> cpus,
      "start_us" -> t0Us, "first_op_us" -> firstOpUs, "end_us" -> nowUs,
      "session_start_s" -> sessionStartS, "peak_rss_kb" -> peakRssKb,
      "ops" -> ops, "checks" -> checks, "layers" -> layers,
      "spans" -> spans.map(s => mutable.LinkedHashMap[String, Any](
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "parent" -> s.parent, "op" -> s.op)))
    Files.writeString(Paths.get(a("out")), Json(out))
  }
}

/** Order-insensitive fingerprint of a result: row count and the sum (mod
  * 2^64) of a 64-bit digest of each row's canonical text. Doubles are
  * written with 9 significant digits, so the last-bit differences a
  * different summation order can cause do not change the fingerprint. */
object Fingerprint {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(Locale.ROOT, "%.9g", java.lang.Double.valueOf(d))

  def of(rows: Array[Row]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { r =>
      val d = md.digest(canon(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc += java.nio.ByteBuffer.wrap(d).getLong
    }
    (rows.length.toLong, java.lang.Long.toUnsignedString(acc, 16))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
