package driftbench

import java.io.File
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.GraftSession
import graft.config.{GraftConfig, SideDetails}
import graft.functions.{CanonicalRowHash, PyFormat}
import graft.operators.{DriftCompare, DriftOutput, DriftResult}
import graft.sources.Side
import graft.types.TypeRender

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** Closed-loop runner for the `graft run` path: one client, each compare
  * (`DriftCompare.compareAll` + `DriftOutput.write` + `DriftOutput.report`)
  * starts only after the previous one finished.
  *
  * Phases: set-up (session start + opening both sides) `--setups` times,
  * one cold compare, `--warmup` compares, then compares until `--seconds`
  * of measured time. Every compare is checked against the fixture's
  * truth.json. With `--trace 1` measured compares alternate between traced
  * and untraced, and scan-only / hash-only passes run after them, outside
  * any compare span.
  *
  * Writes its metrics as JSON to `--result`; numbers use `Locale.ROOT`.
  */
object DriftBench {

  final case class Opts(fixture: File, work: File, seconds: Double, trace: Boolean,
                        warmup: Int, setups: Int, result: File)

  final case class Done(root: Long, ns: Long, cpuNs: Long, stealS: Double, ok: Boolean,
                        cacheBytes: Long, outFiles: Long, outBytes: Long, driftRows: Long)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process (all threads). */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** Seconds of CPU time the hypervisor gave to other guests, all CPUs
    * together (the `steal` column of /proc/stat); 0 where it is not available.
    */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100 finally src.close()
    } catch { case NonFatal(_) => 0.0 }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(new File(need("fixture")), new File(need("work")), need("seconds").toDouble,
      need("trace") == "1", need("warmup").toInt, need("setups").toInt, new File(need("result")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val truth = new ObjectMapper().readTree(new File(o.fixture, "truth.json"))
    new DriftBench(o, truth).run()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it. */
  def maxPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (100 - p) / 100 >= 10)

  def fmt(x: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(x))

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)
}

final class DriftBench(o: DriftBench.Opts, truth: JsonNode) {
  import DriftBench._

  private val cores = GraftSession.cpus.toInt
  private val outDir = new File(o.work, "out")
  private val problems = ArrayBuffer.empty[String]

  private def sideDetails(id: String): SideDetails = {
    val s = truth.get("sides").get(id)
    val path = new File(o.fixture, s.get("path").asText).getAbsolutePath
    s.get("kind").asText match {
      case "derby" => SideDetails("derby", s"jdbc:derby:$path")
      case kind => SideDetails(kind, path)
    }
  }

  private val config = GraftConfig(sideDetails("db1"), sideDetails("db2"), outDir.getPath)

  /** The session `GraftApp` builds for `graft run`; only Spark's local and
    * warehouse directories are pointed into the benchmark's work directory.
    */
  private def buildSession(): SparkSession = {
    val spark = GraftSession.builder("graft", GraftSession.cpus)
      .master(s"local[${GraftSession.cpus}]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ------------------------------------------------------------ checks

  private def check(result: DriftResult, report: String): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    def rows(key: String) = truth.get(key).elements().asScala.toSeq
    def opt(n: JsonNode) = if (n == null || n.isNull) None else Some(n.asText)

    val wantSummary = rows("summary").map(r => (r.get("table_name").asText, "db1",
      r.get("rows_only_in_db1").asLong, "db2", r.get("rows_only_in_db2").asLong))
    val gotSummary = result.summary.sortBy(_.tableName)
      .map(r => (r.tableName, r.db1, r.rowsOnlyInDb1, r.db2, r.rowsOnlyInDb2))
    if (gotSummary != wantSummary) bad += s"summary $gotSummary != $wantSummary"

    val wantSchema = rows("schema_drift").map(r => (r.get("table_name").asText,
      r.get("column_name").asText, opt(r.get("db1_column_type")), opt(r.get("db2_column_type"))))
    val gotSchema = result.schemaDrift
      .map(r => (r.tableName, r.columnName, r.db1ColumnType, r.db2ColumnType))
    if (gotSchema.sorted != wantSchema.sorted) bad += s"schema drift $gotSchema != $wantSchema"

    val wantMissing = rows("missing_tables").map(r => (r.get("table_name").asText,
      r.get("observed_in").asText, r.get("missing_in").asText))
    val gotMissing = result.missingTables.map(r => (r.tableName, r.observedIn, r.missingIn))
    if (gotMissing.sorted != wantMissing.sorted) bad += s"missing tables $gotMissing != $wantMissing"

    if (report != truth.get("report").asText) bad += s"report differs:\n$report"

    val wantDirs = (wantSummary.map(_._1) ++ Seq("lotad_table_schema_drift",
      "lotad_missing_table_drift", "lotad_db_data_drift_summary")).toSet
    val gotDirs = Option(outDir.listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getName).toSet
    if (gotDirs != wantDirs) bad += s"output tables $gotDirs != $wantDirs"
    gotDirs.filterNot(d => new File(outDir, s"$d/_SUCCESS").isFile)
      .foreach(d => bad += s"output table $d has no _SUCCESS")
    bad.toSeq
  }

  // ------------------------------------------------------------ one compare

  private var attempted = 0
  private var failed = 0

  private def compare(spark: SparkSession, s1: Side, s2: Side, traced: Boolean): Done = {
    deleteRecursively(outDir)
    val sc = spark.sparkContext
    Tracer.enabled = traced
    var root = 0L
    val (cpu0, steal0) = (processCpuNs(), stealS())
    val t0 = System.nanoTime()
    val outcome =
      try Right(Tracer.span("compare") {
        root = Tracer.currentId
        val result = Tracer.sparkSpan(sc, "drift_compare.compareAll") {
          new DriftCompare(spark, s1, s2, config.diffConfig).compareAll()
        }
        Tracer.sparkSpan(sc, "drift_output.write")(DriftOutput.write(spark, result, config.outputPath))
        val report = Tracer.span("drift_output.report") {
          DriftOutput.report(result, config.db1Details.path, config.db2Details.path)
        }
        (result, report)
      })
      catch { case NonFatal(e) => Left(e) }
    val ns = System.nanoTime() - t0
    val (cpu, steal) = (processCpuNs() - cpu0, stealS() - steal0)
    Tracer.enabled = false
    attempted += 1
    val done = outcome match {
      case Right((result, report)) =>
        val cacheBytes = if (traced) sc.getRDDStorageInfo.map(_.memSize).sum else 0L
        val files = listFiles(outDir)
        val bad = check(result, report)
        result.dataDrift.values.foreach(_.unpersist(blocking = true))
        if (bad.nonEmpty && problems.size < 5) problems ++= bad
        Done(root, ns, cpu, steal, bad.isEmpty, cacheBytes, files.size.toLong, files.map(_.length).sum,
          result.summary.map(r => r.rowsOnlyInDb1 + r.rowsOnlyInDb2).sum)
      case Left(e) =>
        if (problems.size < 5) problems += s"compare threw: $e"
        Done(root, ns, cpu, steal, ok = false, 0L, 0L, 0L, 0L)
    }
    if (!done.ok) failed += 1
    done
  }

  // ------------------------------------------------------------ run

  def run(): Unit = {
    o.work.mkdirs()
    // set-up, repeated: session start + opening both sides
    val setupNs, startNs = ArrayBuffer.empty[Long]
    var spark: SparkSession = null
    var sides: (Side, Side) = null
    for (_ <- 0 until o.setups) {
      if (spark != null) spark.stop()
      Tracer.enabled = o.trace
      Tracer.span("setup") {
        val t0 = System.nanoTime()
        spark = Tracer.span("session.start")(buildSession())
        val t1 = System.nanoTime()
        sides = Tracer.span("sources.open") {
          val s1 = config.db1Details.toSide(spark, "db1")
          val s2 = config.db2Details.toSide(spark, "db2")
          s1.listTables(); s2.listTables()
          (s1, s2)
        }
        setupNs += System.nanoTime() - t0
        startNs += t1 - t0
      }
      Tracer.enabled = false
    }
    val (s1, s2) = sides
    val listener = new LayerListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val (ts1, ts2) = (new TracingSide(s1), new TracingSide(s2))
    def once(traced: Boolean): Done =
      if (traced) compare(spark, ts1, ts2, traced = true) else compare(spark, s1, s2, traced = false)

    val first = once(o.trace)
    val warm = (0 until o.warmup).map(i => once(o.trace && i % 2 == 0))
    val measured = ArrayBuffer.empty[Done]
    val tracedRuns = ArrayBuffer.empty[Done]
    var spent = 0L
    var i = 0
    while (spent < o.seconds * 1e9 || (o.trace && tracedRuns.isEmpty)) {
      val traced = o.trace && i % 2 == 1
      val d = once(traced)
      (if (traced) tracedRuns else measured) += d
      spent += d.ns
      i += 1
    }
    val okNs = measured.filter(_.ok).map(_.ns.toDouble).toSeq
    val diffNs = if (okNs.nonEmpty) okNs else measured.map(_.ns.toDouble).toSeq

    val metrics = ArrayBuffer.empty[(String, Double, String)]
    val lines = ArrayBuffer.empty[String]
    def show(ds: Seq[Done]) = ds.map(d => s"${fmt(d.ns / 1e9)}/${fmt(d.cpuNs / 1e9)}/${fmt(d.stealS)}")
      .mkString(" ")
    lines += s"compare seconds (wall/process cpu/host steal): first ${show(Seq(first))}; " +
      s"warm-up ${show(warm)}; measured ${show((measured ++ tracedRuns).toSeq)}"
    if (!o.trace) {
      val n = diffNs.size
      metrics += (("setup_s", median(setupNs.map(_.toDouble).toSeq) / 1e9, "s"))
      metrics += (("first_diff_s", first.ns / 1e9, "s"))
      metrics += (("diff_s", median(diffNs) / 1e9, "s"))
      val pct = maxPercentile(n).map { p =>
        val s = diffNs.sorted
        s"p$p=${fmt(s(math.min(n - 1, math.ceil(n * p / 100).toInt - 1)) / 1e9)} s"
      }.getOrElse("no percentile beyond the median has 10 samples")
      lines += s"diff_s median over n=$n warm compares; $pct"
      lines += s"setup_s per set-up: ${setupNs.map(x => fmt(x / 1e9)).mkString(", ")} " +
        s"(the first includes JVM class loading)"
    } else {
      metrics ++= layerMetrics(spark, s1, s2, listener, startNs.toSeq, tracedRuns.toSeq,
        diffNs, lines)
    }
    spark.stop()
    writeResult(metrics.toSeq, lines.toSeq)
  }

  // ------------------------------------------------------------ traced run

  /** Normalized projection of one shared table, as the compare builds it:
    * shared columns in code-point order, nested types as JSON text,
    * cross-side type mismatches cast to string.
    */
  private def projections(s1: Side, s2: Side, table: String): Seq[DataFrame] = {
    val (d1, d2) = (s1.table(table), s2.table(table))
    val (f1, f2) = (d1.schema.fields.map(f => f.name -> f.dataType).toMap,
      d2.schema.fields.map(f => f.name -> f.dataType).toMap)
    val shared = f1.keySet.intersect(f2.keySet).toSeq.sortWith(PyFormat.cpCompare(_, _) < 0)
    Seq((d1, f1, f2), (d2, f2, f1)).map { case (df, mine, other) =>
      df.select(shared.map { c =>
        val dt = mine(c)
        if (TypeRender.isNested(dt)) to_json(col(s"`$c`")).as(c)
        else if (TypeRender.render(dt) != TypeRender.render(other(c))) col(s"`$c`").cast("string").as(c)
        else col(s"`$c`")
      }: _*)
    }
  }

  private def timed(name: String, reps: Int)(body: => Unit): Double = {
    Tracer.enabled = true
    val ns = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Tracer.span(name)(body)
      (System.nanoTime() - t0).toDouble
    }
    Tracer.enabled = false
    median(ns) / 1e9
  }

  private def layerMetrics(spark: SparkSession, s1: Side, s2: Side, listener: LayerListener,
                           startNs: Seq[Long], traced: Seq[Done], untracedNs: Seq[Double],
                           lines: ArrayBuffer[String]): Seq[(String, Double, String)] = {
    val dc = new DriftCompare(spark, s1, s2, config.diffConfig)
    val shared = dc.sharedTables()
    val schemaS = timed("types.schema_drift", 3) {
      dc.sharedTables(); dc.missingTableDrift(); shared.flatMap(dc.schemaDrift)
    }
    val projected = shared.flatMap(projections(s1, s2, _))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val scanS = timed("pass.scan", 3)(projected.foreach(noop))
    val hashS = timed("pass.hash", 3) {
      projected.foreach(df => noop(df.select(CanonicalRowHash(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)))))
    }
    spark.stop() // drains the listener bus
    val rowsHashed = Seq("db1", "db2").map { id =>
      val t = truth.get("table_rows").get(id)
      shared.map(n => t.get(n).asLong).sum
    }.sum

    val all = Tracer.spans.asScala.toSeq
    val byId = all.map(s => s.id -> s).toMap
    def traceOf(s: Span): Long = if (s.trace != 0) s.trace else byId.get(s.parent).map(traceOf).getOrElse(0L)
    val spans = all.map(s => s.copy(trace = traceOf(s)))
    val self = Tracer.selfNs(spans)
    val perTrace = spans.groupBy(_.trace)
    def child(d: Done, name: String) = perTrace(d.root).filter(_.name == name)
    def dur(s: Span) = (s.endNs - s.startNs).toDouble
    def med(f: Done => Double) = median(traced.map(f))
    def stats(d: Done, name: String) =
      child(d, name).headOption.flatMap(s => Option(listener.stats.get(s.id))).getOrElse(new GroupStats)
    def cmp(d: Done) = stats(d, "drift_compare.compareAll")
    val wallS = med(d => child(d, "drift_compare.compareAll").map(dur).sum) / 1e9
    val tracedS = med(_.ns.toDouble) / 1e9
    val overheadS = (med(_.ns.toDouble) - median(untracedNs)) / 1e9
    val hashOnly = hashS - scanS
    val inputRows = truth.get("input_rows").get("db1").asLong + truth.get("input_rows").get("db2").asLong

    // per-layer self time, per compare
    val names = spans.filter(s => traced.exists(_.root == s.trace)).map(_.name).distinct.sorted
    lines += "self time per compare (median over traced compares):"
    names.foreach { n =>
      val s = med(d => perTrace(d.root).filter(_.name == n).map(x => self(x.id).toDouble).sum) / 1e9
      val c = med(d => perTrace(d.root).count(_.name == n).toDouble)
      lines += String.format(Locale.ROOT, "  %-28s %9.4f s  (%s spans)", n, Double.box(s), fmt(c))
    }
    lines += s"tracing overhead: ${fmt(overheadS)} s per compare " +
      s"(traced ${fmt(tracedS)} s, untraced ${fmt(median(untracedNs) / 1e9)} s)"
    writeSpans(spans, self)

    Seq(
      ("session.start_s", median(startNs.map(_.toDouble)) / 1e9, "s"),
      ("sources.list_tables_calls", med(child(_, "sources.listTables").size.toDouble), "count"),
      ("sources.list_tables_s", med(child(_, "sources.listTables").map(dur).sum) / 1e9, "s"),
      ("sources.schema_s", med(child(_, "sources.schema").map(dur).sum) / 1e9, "s"),
      ("sources.scan_s", scanS, "s"),
      ("sources.rows_read", med(cmp(_).recordsRead.toDouble), "count"),
      ("sources.bytes_read", med(cmp(_).bytesRead.toDouble), "B"),
      ("types.schema_drift_s", schemaS, "s"),
      ("canonical_hash.hash_s", hashOnly, "s"),
      ("canonical_hash.rows_per_s", rowsHashed / hashOnly, "1/s"),
      ("drift_compare.wall_s", wallS, "s"),
      ("drift_compare.jobs", med(cmp(_).jobs.toDouble), "count"),
      ("drift_compare.stages", med(cmp(_).stages.toDouble), "count"),
      ("drift_compare.tasks", med(cmp(_).tasks.toDouble), "count"),
      ("drift_compare.executor_run_s", med(cmp(_).runMs / 1e3), "s"),
      ("drift_compare.executor_cpu_s", med(cmp(_).cpuNs / 1e9), "s"),
      ("drift_compare.gc_s", med(cmp(_).gcMs / 1e3), "s"),
      ("drift_compare.busy_frac", med(cmp(_).runMs / 1e3) / (wallS * cores), "ratio"),
      ("drift_compare.cache_mb", med(_.cacheBytes / 1e6), "MB"),
      ("drift_compare.drift_frac", med(_.driftRows.toDouble) / inputRows, "ratio"),
      ("hash_run_scan.shuffle_write_mb", med(cmp(_).shuffleWriteBytes / 1e6), "MB"),
      ("hash_run_scan.shuffle_records", med(cmp(_).shuffleWriteRecords.toDouble), "count"),
      ("hash_run_scan.fetch_wait_s", med(cmp(_).fetchWaitMs / 1e3), "s"),
      ("hash_run_scan.spill_mb", med(cmp(_).spillBytes / 1e6), "MB"),
      ("hash_run_scan.peak_exec_mb", med(cmp(_).peakExecBytes / 1e6), "MB"),
      ("drift_output.write_s", med(child(_, "drift_output.write").map(dur).sum) / 1e9, "s"),
      ("drift_output.jobs", med(stats(_, "drift_output.write").jobs.toDouble), "count"),
      ("drift_output.files", med(_.outFiles.toDouble), "count"),
      ("drift_output.bytes", med(_.outBytes.toDouble), "B"),
      ("drift_output.report_s", med(child(_, "drift_output.report").map(dur).sum) / 1e9, "s"),
      ("trace.diff_s", tracedS, "s"),
      ("trace.overhead_s", overheadS, "s"))
  }

  private def writeSpans(spans: Seq[Span], self: Map[Long, Long]): Unit = {
    val f = new File(o.work, "spans.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}""")
    } finally w.close()
    println(s"spans: ${spans.size} written to ${f.getPath}")
  }

  // ------------------------------------------------------------ result

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.math.BigDecimal.valueOf(x).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => c.toString
    } + "\""

  private def writeResult(metrics: Seq[(String, Double, String)], lines: Seq[String]): Unit = {
    lines.foreach(println)
    metrics.foreach { case (n, v, u) =>
      println(String.format(Locale.ROOT, "%-32s %16.6f %s", n, Double.box(v), u))
    }
    val m = metrics.map { case (n, v, u) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
    val json = s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""problems":[${problems.map(str).mkString(",")}],"metrics":{${m.mkString(",")}}}"""
    val w = new java.io.PrintWriter(o.result, "UTF-8")
    try w.print(json) finally w.close()
  }
}
