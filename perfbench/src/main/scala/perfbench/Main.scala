package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.io.Synthesizer
import graft.model.Doc
import graft.pipe.{CheckpointRunner, ExtractionPipeline}

/** One benchmark invocation: set-up, timed closed-loop operations at four
  * threads, the output checks and, with `trace=1`, the traced pass and
  * the same operations at one thread. Writes raw samples and counters as JSON to `out`; `run.py` turns
  * them into metrics.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace, work (scratch
  * directory), data (query tables), docs (input docs for the extract
  * workloads), queries (comma-separated query names), out. */
object Main {
  val Threads = 4
  val InputFiles = 16

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val queries = a.getOrElse("queries", "").split(",").filter(_.nonEmpty).toVector
    if (a("workload") == "train") return train(a("work"), a("data"), queries)
    val b = new Bench(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), a.getOrElse("data", ""),
      a.getOrElse("docs", "0").toLong, queries)
    val res =
      try b.run()
      finally b.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(res))
  }

  /** A short pass over every workload, run once per build so that the JVM
    * can archive the classes the runs load (class data sharing): class
    * loading from the Spark jars otherwise dominates each run's start. */
  def train(work: String, dataDir: String, queries: Vector[String]): Unit =
    // the traced extract_fused run also makes checkpoint runs
    Seq("extract_fused", "query_sweep").foreach { w =>
      val b = new Bench(w, 0L, 0.0, trace = true, s"$work/$w", dataDir, 400L,
        queries.take(2), minOps = 1, setupReps = 1, warmupPasses = 2)
      try b.run()
      finally b.stop()
    }

  def newSession(threads: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      // the same plan shape at one thread and at four
      .config("spark.sql.shuffle.partitions", Threads)
      // one task per input file: without it Spark packs the 16 files of
      // the extract input into 5 tasks on 4 threads
      .config("spark.sql.files.openCostInBytes", 128L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File, keep: File => Boolean): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes(_, keep)).sum).getOrElse(0L)
    else if (keep(f)) f.length else 0L

  def isParquet(f: File): Boolean = f.getName.endsWith(".parquet")

  /** Order-independent digest of `SparkEntry.goldenResult` rows: the row
    * count and the exact sum of the first 60 bits of each row's md5. Each
    * row is its golden columns as strings, null as U+0000, joined by
    * U+0001. `stats.digest` computes the same value in Python. */
  def digest(results: DataFrame): String = {
    val g = SparkEntry.goldenResult(results)
    val row = concat_ws("\u0001",
      g.columns.toIndexedSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val h = conv(substring(md5(row.cast("binary")), 1, 15), 16, 10).cast("decimal(38,0)")
    val r = g.agg(count(lit(1)), sum(h)).collect()(0)
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString
    s"${r.getLong(0)}:$s"
  }

  /** Peak resident set of this JVM, from /proc. */
  def peakRssMb(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get
    }.getOrElse(-1.0)
}

final class Bench(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  work: String, dataDir: String, docs: Long, queries: Vector[String],
                  minOps: Int = 2, setupReps: Int = 3, warmupPasses: Int = 6) {
  import Main._

  private var spark: SparkSession = _
  private var meters: Meters = _
  private var lastCkptDir = ""
  private val out = mutable.LinkedHashMap[String, Any]()
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val equal = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def start(threads: Int): Unit = {
    if (spark != null) spark.stop()
    spark = newSession(threads, work)
    meters = Meters.install(spark)
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def drained(): Map[String, Long] = {
    PerfbenchBus.drain(spark.sparkContext)
    meters.snapshot()
  }

  /** One attempted operation; an exception counts as a failure. */
  private def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }

  /** A check that two values are equal; each counts as one attempt. */
  private def expectEqual(what: String, a: Any, b: Any): Unit = {
    attempted += 1
    equal += Map("check" -> what, "a" -> a, "b" -> b, "equal" -> (a == b))
    if (a != b) errors += s"$what: $a != $b"
  }

  /** Runs `op` until `budget` seconds have passed and at least `minOps`
    * ran; returns the timed seconds of each successful op and the listener
    * delta over the whole loop. */
  private def loop(what: String, budget: Double)(
      op: () => Double): (Vector[Double], Map[String, Long]) = {
    val before = drained()
    val t0 = System.nanoTime()
    val times = Vector.newBuilder[Double]
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < budget) {
      attempt(s"$what[$i]")(op()).foreach(times += _)
      i += 1
    }
    (times.result(), Meters.diff(drained(), before))
  }

  def run(): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    start(Threads)
    out("session_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
    phase("session")
    workload match {
      case "extract_fused"      => extract(checkpoint = false)
      case "extract_checkpoint" => extract(checkpoint = true)
      case "query_sweep"        => querySweep()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out("peak_rss_mb") = peakRssMb()
    out("attempted") = attempted
    out("errors") = errors.toVector
    out("equal_checks") = equal.toVector
    out("jvm") = jvmInfo()
    out("spark_conf") = spark.conf.getAll.filter { case (k, _) =>
      !k.contains("host") && !k.contains("port") && !k.contains(".id") }
    out("phase_s") = phases.toMap
    out.toMap
  }

  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private var phaseStart = System.nanoTime()
  /** Closes the current phase of the invocation under `name`. */
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    phases(name) = (now - phaseStart) / 1e9
    phaseStart = now
  }

  private def jvmInfo(): Map[String, Any] = {
    val rt = Runtime.getRuntime
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .map(p => p.getName -> p.getUsage.getMax).toMap
    Map("flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toVector,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_bytes" -> rt.maxMemory(),
      "available_processors" -> rt.availableProcessors(),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toVector,
      "pool_max_bytes" -> pools)
  }

  /** Set-up repeated `setupReps` times into fresh directories; the last
    * one is kept. Returns its path. */
  private def setupReps(make: String => Unit): String = {
    val dirs = (0 until setupReps).map(i => s"$work/input/rep$i")
    val times = dirs.map { d =>
      deleteTree(new File(d))
      secondsOf(make(d))
    }
    out("materialize_s") = times.toVector
    dirs.init.foreach(d => deleteTree(new File(d)))
    dirs.last
  }

  /** The traced kernel over `paths`; its digest must equal `expected`.
    * Returns the counters and the traced pass's seconds. */
  private def traced(paths: Seq[String], useDonut: Boolean,
                     expected: Any): (Map[String, Long], Double) = {
    val acc = new CounterAcc
    spark.sparkContext.register(acc, s"perfbench.trace.donut=$useDonut")
    var d = ""
    val secs = secondsOf { d = digest(Traced.run(readDocs(paths), useDonut, acc).toDF()) }
    expectEqual(s"traced digest == untraced digest (donut=$useDonut)", d, expected)
    (acc.value, secs)
  }

  private def sinkRecord(opS: Vector[Double], meters: Map[String, Long]): Map[String, Any] =
    Map("op_s" -> opS, "meters" -> meters, "write_bytes" ->
      treeBytes(new File(s"$lastCkptDir/results"), isParquet))

  private def readDocs(paths: Seq[String]): Dataset[Doc] = {
    val s = spark
    import s.implicits._
    s.read.parquet(paths: _*).as[Doc]
  }

  // ---------------------------------------------------------------- extract

  private def extract(checkpoint: Boolean): Unit = {
    val donut = checkpoint
    val input = setupReps { d =>
      Synthesizer.docs(spark, docs, seed, InputFiles).write.parquet(d)
    }
    val files = new File(input).listFiles().filter(isParquet).map(_.getPath).sorted.toVector
    // the one-thread pass works on a quarter of the files: N docs at one
    // thread against 4N at four, the paper's scaling contract
    val quarter = files.take(files.length / Threads)
    val rowsAll = readDocs(files).count()
    val rowsQuarter = readDocs(quarter).count()
    out("input") = Map("rows" -> rowsAll, "bytes" -> treeBytes(new File(input), isParquet),
      "files" -> files.length, "rows_p1" -> rowsQuarter,
      "bytes_p1" -> quarter.map(f => new File(f).length).sum)
    expectEqual("input rows", rowsAll, docs)
    phase("setup")

    var opN = 0
    def fused(paths: Seq[String]): Double =
      secondsOf(ExtractionPipeline.run(readDocs(paths), useDonut = donut).toDF()
        .write.format("noop").mode("overwrite").save())
    // each run starts from an empty directory: a manifest left by an
    // earlier run would make every group skip and fake a speed-up
    def ckpt(paths: Seq[String], rows: Long): Double = {
      deleteTree(new File(s"$work/ckpt"))
      val dir = s"$work/ckpt/op$opN"
      opN += 1
      require(!new File(dir).exists(), s"$dir not empty before the run")
      val runner = new CheckpointRunner(dir, buckets = 32, groups = 4, useDonut = true)
      var executed = 0
      val dt = secondsOf { executed = runner.run(readDocs(paths)) }
      if (executed != 4) throw new IllegalStateException(s"executed $executed groups, not 4")
      val n = runner.results(spark).count()
      if (n != rows) throw new IllegalStateException(s"$n rows out, $rows in")
      lastCkptDir = dir
      dt
    }
    def lastSink(): DataFrame = spark.read.parquet(s"$lastCkptDir/results/group=*")
    val op: (Seq[String], Long) => Double =
      if (checkpoint) ckpt else (p, _) => fused(p)

    // JIT warm-up; with the compiler threads run.py gives the JVM, pass
    // times settle within these passes
    out("warmup_s") = secondsOf {
      if (checkpoint) {
        attempt("warmup")(op(quarter, rowsQuarter))
        attempt("warmup")(op(files, rowsAll))
      } else (1 to warmupPasses).foreach(_ => attempt("warmup")(op(files, rowsAll)))
    }
    phase("warmup")
    val (t4, m4) = loop("p4", seconds)(() => op(files, rowsAll))
    out("p4") = Map("op_s" -> t4, "items_per_op" -> rowsAll, "meters" -> m4)
    phase("p4")

    // a quarter pass before the timed digest pass warms the digest code
    val quarterDigestP4 =
      if (trace) digest(ExtractionPipeline.run(readDocs(quarter), donut).toDF()) else ""
    val untracedDigestS = secondsOf {
      out("digest_full") = digest(ExtractionPipeline.run(readDocs(files), donut).toDF())
    }
    if (checkpoint) {
      out("ckpt") = sinkRecord(t4, m4)
      expectEqual("checkpoint sink digest == fused donut digest",
        digest(lastSink()), out("digest_full"))
    }
    phase("checks")

    if (trace) {
      val before = drained()
      val scanS = secondsOf(readDocs(files).toDF().write.format("noop").mode("overwrite").save())
      val scan = Meters.diff(drained(), before)
      val (counters, tracedS) = traced(files, donut, out("digest_full"))
      out("trace") = Map("scan_s" -> scanS, "scan_meters" -> scan, "counters" -> counters,
        "traced_digest_s" -> tracedS, "untraced_digest_s" -> untracedDigestS)
      if (!checkpoint) {
        // the sink, checkpoint and Donut layers, which the fused pass does
        // not reach: one warm-up and one measured checkpoint run, then the
        // Donut-on kernel traced
        attempt("checkpoint warmup")(ckpt(quarter, rowsQuarter))
        val before = drained()
        val t = attempt("checkpoint")(ckpt(files, rowsAll)).toVector
        out("ckpt") = sinkRecord(t, Meters.diff(drained(), before))
        val donutDigest = digest(ExtractionPipeline.run(readDocs(files), useDonut = true).toDF())
        expectEqual("checkpoint sink digest == fused donut digest",
          digest(lastSink()), donutDigest)
        out("donut_counters") = traced(files, useDonut = true, donutDigest)._1
      }
      phase("trace")

      start(1)
      val (t1, m1) = loop("p1", seconds / 2)(() => op(quarter, rowsQuarter))
      out("p1") = Map("op_s" -> t1, "items_per_op" -> rowsQuarter, "meters" -> m1)
      val quarterDigestP1 =
        if (checkpoint) digest(lastSink())
        else digest(ExtractionPipeline.run(readDocs(quarter), donut).toDF())
      expectEqual("digest p1 == p4 (quarter input)", quarterDigestP1, quarterDigestP4)
      phase("p1")
    }
    golden()
    phase("golden")
  }

  // ------------------------------------------------------------ query sweep

  private def querySweep(): Unit = {
    // the query registries key their synthesized doc count on the `sf`
    // token of the table directory's name
    val tables = new File(dataDir).listFiles().filter(isParquet).map(_.getName).sorted.toVector
    val rep = setupReps { d =>
      Files.createDirectories(Paths.get(s"$d/sf0.01"))
      tables.foreach(t => Files.copy(Paths.get(s"$dataDir/$t"), Paths.get(s"$d/sf0.01/$t")))
    }
    val dir = s"$rep/sf0.01"
    out("input") = Map("tables" -> tables.length, "bytes" -> treeBytes(new File(dir), isParquet))
    out("table_dir") = dir
    phase("setup")

    def one(name: String): Double =
      secondsOf(SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save())
    def sweep(samples: mutable.ArrayBuffer[Any]): Double = {
      val t0 = System.nanoTime()
      queries.foreach { q =>
        attempt(q)(one(q)).foreach(s => samples += Vector(q, s))
      }
      (System.nanoTime() - t0) / 1e9
    }

    out("warmup_s") = secondsOf((1 to warmupPasses / 2).foreach(_ => sweep(mutable.ArrayBuffer.empty)))
    phase("warmup")
    val s4 = mutable.ArrayBuffer.empty[Any]
    val (t4, m4) = loop("p4", seconds)(() => sweep(s4))
    out("p4") = Map("op_s" -> t4, "items_per_op" -> queries.length, "meters" -> m4,
      "query_s" -> s4.toVector)
    phase("p4")

    if (trace) {
      var per = Vector.empty[Map[String, Any]]
      val tracedS = secondsOf {
        per = queries.map { q =>
          val before = drained()
          attempt(s"traced $q")(one(q))
          Map("query" -> q, "registry" -> registry(q),
            "meters" -> Meters.diff(drained(), before))
        }
      }
      out("trace") = Map("queries" -> per, "traced_s" -> tracedS)
      phase("trace")
    }

    // results for the DuckDB oracle check in run.py, outside the timed loop
    queries.foreach { q =>
      attempt(s"dump $q") {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.parquet(s"$work/qout/$q")
      }
    }
    val oracles = SparkEntry.oracleSqlFor(dir)
    out("oracle_sql") = queries.flatMap(q => oracles.get(q).map(q -> _)).toMap
    phase("checks")

    if (trace) {
      start(1)
      val s1 = mutable.ArrayBuffer.empty[Any]
      val (t1, m1) = loop("p1", seconds / 2)(() => sweep(s1))
      out("p1") = Map("op_s" -> t1, "items_per_op" -> queries.length, "meters" -> m1,
        "query_s" -> s1.toVector)
      phase("p1")
    }
  }

  private def registry(q: String): String =
    if (graft.RelationalQueries.queries.contains(q)) "RelationalQueries"
    else if (graft.PipelineOpsQueries.queries.contains(q)) "PipelineOpsQueries"
    else "SparkEntry"

  // ----------------------------------------------------------------- golden

  /** Seed 42 at 2000 docs in both Donut modes; run.py compares these with
    * the committed reference fixtures. */
  private def golden(): Unit = {
    val d = Synthesizer.docs(spark, 2000, 42L)
    out("golden_digest") = Seq(false, true).map { donut =>
      (if (donut) "donut" else "plain") ->
        attempt(s"golden donut=$donut")(digest(ExtractionPipeline.run(d, donut).toDF()))
          .getOrElse("error")
    }.toMap
  }
}
