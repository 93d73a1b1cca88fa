package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.profiler.{ParquetDirCatalog, Runner, Sinks}

/** The benchmark's JVM side: one process, one client, one timed unit at a
  * time (a closed loop). `run.py` starts it, then checks the outputs it
  * leaves behind and prints the result line.
  *
  * Phases:
  *   1. set-up, timed from JVM start: a SparkSession and an untimed
  *      warm-up unit on a tiny input of the workload's shape;
  *   2. timed units until `--seconds` is spent (at least one);
  *   3. with `--trace 1`: units alternate untraced and traced (job
  *      listener and catalog decorator attached), starting untraced, at
  *      least three;
  *   4. everything measured is written as JSON to `--result`.
  */
object Harness {

  final case class Opts(m: Map[String, String]) {
    def s(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def i(k: String): Int = s(k).toInt
    def b(k: String): Boolean = s(k) == "1" || s(k) == "true"
    def list(k: String): Seq[String] = s(k).split(',').toSeq.filter(_.nonEmpty)
  }

  def parse(argv: Array[String]): Opts =
    Opts(argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap)

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.maxFields", "1000")
      // as graft.profiler.Runner.main: TIMESTAMP(NANOS) columns read as longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** What one timed unit leaves for the result file. */
  final case class UnitOut(wallS: Double, startMs: Long, endMs: Long, detail: Map[String, Any])

  /** A workload: how to warm up, run one timed unit, and what to report. */
  trait Workload {
    def warmUp(spark: SparkSession): Unit
    def prepare(spark: SparkSession): Unit = ()
    def unit(spark: SparkSession, trace: Option[Trace], i: Int): UnitOut
    def inputRows: Long
    def report(spark: SparkSession): Map[String, Any]
  }

  // ---------------------------------------------------------------- catalog

  /** `Runner.run` over a directory catalog; every unit re-profiles into the
    * same output root, so the metadata upsert takes its merge path. */
  final class CatalogWorkload(o: Opts) extends Workload {
    private val dataDir = o.s("data")
    private val warmDir = o.s("warm")
    private val work = Paths.get(o.s("work"))
    private val outPrefix = work.resolve("out/metrics").toString
    private val metaDir = Paths.get(outPrefix + "_metadata")
    /** `--runner` holds Runner's own command-line flags. */
    private val args = Runner.parseArgs(
      Array("--dbName", dataDir, "--outPrefix", outPrefix) ++ o.s("runner").split(' '))
      .fold(e => throw new IllegalArgumentException(e), identity)
    private val runs = mutable.ArrayBuffer.empty[(String, Map[String, Int])]
    private val baseDt = OffsetDateTime.of(2030, 1, 1, 0, 0, 0, 0, ZoneOffset.UTC)
    private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    private var tables: Seq[String] = Nil
    private var rows = 0L

    override def warmUp(spark: SparkSession): Unit = {
      val res = Runner.run(spark, new ParquetDirCatalog(spark, warmDir),
        args.copy(dbName = warmDir, outPrefix = work.resolve("warm/metrics").toString))
      require(res.nonEmpty && res.values.forall(_ >= 0), s"warm-up failed: $res")
    }

    /** Seeds the metadata store with what an earlier profile and a data
      * owner would have left there (stats under the prefix, other params
      * beside them), so the first timed upsert merges too. Counts the
      * input rows the profile will read. */
    override def prepare(spark: SparkSession): Unit = {
      val catalog = new ParquetDirCatalog(spark, dataDir)
      tables = catalog.listTables
      val sink = new Sinks.JsonMetadataSink(metaDir.toString)
      tables.foreach { t =>
        val df = catalog.load(t)
        rows += df.count()
        sink.upsert(t, "DQP__",
          Map("DQP__Size" -> "0", "classification" -> "parquet"),
          df.schema.fieldNames.map(c => c -> Map("DQP__Completeness" -> "0", "comment" -> "owner: ingest")).toMap)
      }
    }

    override def inputRows: Long = rows

    override def unit(spark: SparkSession, trace: Option[Trace], i: Int): UnitOut = {
      val dt = baseDt.plusSeconds(i.toLong)
      val catalog = new TimedCatalog(new ParquetDirCatalog(spark, dataDir), trace)
      val before = FileStats.snapshot(work.resolve("out"))
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val res = Runner.run(spark, catalog, args, dt)
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      val written = FileStats.written(before, FileStats.snapshot(work.resolve("out")))
      runs += dt.format(fmt) -> res
      // a table's profile ends with its metadata upsert, the last write
      val tableS = res.collect { case (t, n) if n >= 0 =>
        t -> (Files.getLastModifiedTime(metaDir.resolve(s"$t.json")).toMillis -
          catalog.loadStartMs.get(t)) / 1e3
      }
      UnitOut(wall, t0, t1, Map(
        "item_s" -> tableS,
        "files_written" -> written._1, "bytes_written" -> written._2))
    }

    override def report(spark: SparkSession): Map[String, Any] = Map(
      "kind" -> "catalog",
      "tables" -> tables,
      "out_root" -> outPrefix,
      "meta_dir" -> metaDir.toString,
      "runs" -> runs.map { case (ts, res) => Map("run_ts" -> ts, "counts" -> res) }.toList)
  }

  // ---------------------------------------------------------- query battery

  /** Declared `SparkEntry.queries` keys, evaluated and collected in one
    * warm session, one key at a time. */
  final class BatteryWorkload(o: Opts) extends Workload {
    private val dataDir = o.s("data")
    private val warmDir = o.s("warm")
    private val work = Paths.get(o.s("work"))
    private val keys = o.list("keys")
    private val queries = graft.SparkEntry.queries
    private val first = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    private val mismatches = mutable.Map.empty[String, Int].withDefaultValue(0)
    private var rows = 0L
    keys.foreach(k => require(queries.contains(k), s"unknown query key $k"))

    /** The layer that owns a key's entry point, for the jobs the benchmark
      * itself triggers when it collects the key's result. */
    private def keyLayer(k: String): String =
      if (Set("quantiles_exact", "mad_outliers", "iqr_outliers", "winsorized_stats")(k)) Layers.Quantiles
      else Layers.Operators

    override def warmUp(spark: SparkSession): Unit =
      keys.foreach(k => queries(k)(spark, warmDir).collect())

    override def prepare(spark: SparkSession): Unit =
      rows = Seq("lineitem", "documents").map(t => spark.read.parquet(s"$dataDir/$t.parquet").count()).sum

    override def inputRows: Long = rows

    override def unit(spark: SparkSession, trace: Option[Trace], i: Int): UnitOut = {
      val sc = spark.sparkContext
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val keyS = mutable.LinkedHashMap.empty[String, List[Double]]
      keys.foreach { k =>
        if (trace.isDefined) {
          sc.setLocalProperty(Trace.ScopeKey, k)
          sc.setLocalProperty(Trace.ScopeLayer, keyLayer(k))
        }
        val k0 = System.nanoTime()
        val df = queries(k)(spark, dataDir)
        val got = df.collect()
        val s = (System.nanoTime() - k0) / 1e9
        keyS(k) = keyS.getOrElse(k, Nil) :+ s
        first.get(k) match {
          case None => first(k) = (got, df.schema)
          case Some((want, _)) => if (!(got sameElements want)) mismatches(k) += 1
        }
        sc.setLocalProperty(Trace.ScopeKey, null)
        sc.setLocalProperty(Trace.ScopeLayer, null)
      }
      val wall = (System.nanoTime() - n0) / 1e9
      UnitOut(wall, t0, System.currentTimeMillis(), Map("item_s" -> keyS.toMap))
    }

    /** Results of the first timed pass as parquet plus each key's oracle
      * SQL, for the DuckDB comparison in checks.py (written after timing). */
    override def report(spark: SparkSession): Map[String, Any] = {
      val resDir = work.resolve("results")
      first.foreach { case (k, (got, schema)) =>
        spark.createDataFrame(got.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(resDir.resolve(k).toString)
      }
      val oracle = graft.SparkEntry.oracleSql
      Map(
        "kind" -> "battery",
        "results_dir" -> resDir.toString,
        "oracle_sql" -> keys.distinct.flatMap(k => oracle.get(k).map(k -> _)).toMap,
        "repeat_mismatches" -> mismatches.toMap)
    }
  }

  // ------------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = o.i("cpus")
    val workload: Workload = o.s("workload") match {
      case "catalog" => new CatalogWorkload(o)
      case "battery" => new BatteryWorkload(o)
      case w => throw new IllegalArgumentException(s"unknown workload kind $w")
    }

    // 1. set-up, timed from JVM start
    val spark = session(cpus)
    workload.warmUp(spark)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    workload.prepare(spark)

    // 2./3. timed units, closed loop
    val traced = o.b("trace")
    val seconds = o.i("seconds").toDouble
    val trace = new Trace
    val units = mutable.ArrayBuffer.empty[(UnitOut, Boolean)]
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    def mean = units.map(_._1.wallS).sum / units.size
    while (units.isEmpty || (traced && units.size < 3) || elapsed + mean <= seconds) {
      val withTrace = traced && units.size % 2 == 1
      if (withTrace) spark.sparkContext.addSparkListener(trace)
      val u = workload.unit(spark, if (withTrace) Some(trace) else None, units.size)
      if (withTrace) {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(trace)
      }
      units += u -> withTrace
    }

    // 4. report
    val report = workload.report(spark)
    val layer =
      // the first unit is the first on this input (codegen for its plans
      // is still cold), so the overhead ratio compares later units only
      if (traced) LayerMetrics(units.collect { case (u, true) => u }.toSeq,
        units.drop(1).collect { case (u, false) => u }.toSeq, trace, o.list("keys").distinct)
      else Map.empty[String, Double]
    if (traced) TraceFile.write(Paths.get(o.s("work")).resolve("trace.json"), trace, units.toSeq)
    spark.stop()
    val out = Map(
      "setup_s" -> setupS,
      "unit_s" -> units.collect { case (u, false) => u.wallS }.toList,
      "traced_unit_s" -> units.collect { case (u, true) => u.wallS }.toList,
      "units" -> units.map(_._1.detail).toList,
      "input_rows" -> workload.inputRows,
      "peak_rss_mb" -> peakRssMb(),
      "per_layer" -> layer) ++ report
    Files.writeString(Paths.get(o.s("result")), Json(out))
    ()
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Files under a directory: count and bytes written between two snapshots
  * (new files, and files whose size or mtime changed). */
object FileStats {
  type Snap = Map[Path, (Long, Long)]

  def snapshot(root: Path): Snap =
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(p => p.getFileName.toString.startsWith("."))
        .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally walk.close()
    }

  def written(before: Snap, after: Snap): (Int, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size, changed.values.map(_._1).sum)
  }
}

/** Per-layer metrics of the traced units (means per unit). */
object LayerMetrics {
  def apply(
      traced: Seq[Harness.UnitOut],
      plain: Seq[Harness.UnitOut],
      trace: Trace,
      keys: Seq[String]): Map[String, Double] = {
    val n = traced.size.toDouble
    val all = trace.jobs
    def inUnit(u: Harness.UnitOut) = all.filter(j => j.startMs >= u.startMs && j.startMs <= u.endMs)
    val jobs = traced.flatMap(inUnit)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def median(xs: Seq[Double]) = { val s = xs.sorted; if (s.isEmpty) 0.0 else s(s.size / 2) }
    def perUnitMax(sel: JobRecord => Boolean) =
      traced.map(u => inUnit(u).filter(sel).map(_.maxTaskMs).maxOption.getOrElse(0L).toDouble).sum / n

    Layers.all.foreach { l =>
      val js = jobs.filter(_.layer == l)
      m(s"$l.jobs") = js.size / n
      m(s"$l.tasks") = js.map(_.tasks).sum / n
      m(s"$l.job_ms") = js.map(_.ms).sum / n
      m(s"$l.cpu_ms") = js.map(_.cpuMs).sum / n
      m(s"$l.gc_ms") = js.map(_.gcMs).sum / n
      m(s"$l.shuffle_write_bytes") = js.map(_.shuffleWriteBytes).sum / n
      m(s"$l.spill_bytes") = js.map(_.spillBytes).sum / n
      m(s"$l.max_task_ms") = perUnitMax(_.layer == l)
    }
    m("spark.unattributed_job_ms") = m("spark.job_ms")
    m("sinks.files_written") = traced.map(_.detail.getOrElse("files_written", 0).toString.toDouble).sum / n
    m("sinks.bytes_written") = traced.map(_.detail.getOrElse("bytes_written", 0L).toString.toDouble).sum / n
    val spans = trace.spans
    m("catalog.load_ms") = traced.map(u =>
      spans.filter(s => s.name.startsWith("catalog.") && s.startMs >= u.startMs && s.startMs <= u.endMs)
        .map(_.ms).sum.toDouble).sum / n
    val covered = traced.map(u => Trace.covered(inUnit(u), u.startMs, u.endMs).toDouble)
    m("runner.driver_only_ms") = traced.zip(covered).map { case (u, c) => (u.endMs - u.startMs) - c }.sum / n
    m("runner.job_overlap") = if (covered.sum > 0) jobs.map(_.ms).sum / covered.sum else 0.0
    keys.foreach { k =>
      val js = jobs.filter(_.scope == k)
      m(s"op.$k.ms") = traced.map(_.detail.get("item_s") match {
        case Some(km: Map[_, _]) => km.asInstanceOf[Map[String, List[Double]]].getOrElse(k, Nil).sum * 1e3
        case _ => 0.0
      }).sum / n
      m(s"op.$k.jobs") = js.size / n
      m(s"op.$k.shuffle_write_bytes") = js.map(_.shuffleWriteBytes).sum / n
      m(s"op.$k.max_task_ms") = perUnitMax(_.scope == k)
    }
    m("trace.overhead_ratio") =
      if (plain.isEmpty) 0.0 else median(traced.map(_.wallS)) / median(plain.map(_.wallS))
    m.toMap
  }
}

/** Writes the in-memory spans and job records once the run has ended. */
object TraceFile {
  def write(path: Path, trace: Trace, units: Seq[(Harness.UnitOut, Boolean)]): Unit = {
    val jobs = trace.jobs.map(j => Map(
      "id" -> j.id, "layer" -> j.layer, "scope" -> j.scope, "start_ms" -> j.startMs,
      "end_ms" -> j.endMs, "tasks" -> j.tasks, "cpu_ms" -> j.cpuMs,
      "shuffle_write_bytes" -> j.shuffleWriteBytes, "max_task_ms" -> j.maxTaskMs))
    val spans = trace.spans.map(s => Map(
      "name" -> s.name, "detail" -> s.detail, "start_ms" -> s.startMs, "end_ms" -> s.endMs)) ++
      units.map { case (u, t) => Map(
        "name" -> "unit", "detail" -> (if (t) "traced" else "plain"),
        "start_ms" -> u.startMs, "end_ms" -> u.endMs) }
    Files.writeString(path, Json(Map("jobs" -> jobs, "spans" -> spans)))
    ()
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
