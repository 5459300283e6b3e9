package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Closed-loop benchmark runner: one JVM, one client, each query started
  * when the previous one finished.
  *
  * Every query runs in three timed phases on one `QueryExecution`:
  * build (the module's query function, including any eager CTAS, DML,
  * commit or stream jobs it starts), plan (`executedPlan`) and exec
  * (`collect()`: every row and every column of that same plan, never a
  * `count()` that would let the optimizer drop projections and sorts).
  *
  * Usage (normally started by run.py):
  * {{{
  * perfbench.Harness --queries FILE --all-queries FILE --data DIR
  *   --scratch DIR --out DIR --seed N --seconds S --trace 0|1 --cores N
  * }}}
  * The JVM's `java.io.tmpdir` must already point inside `--scratch`: the
  * program's scratch tables and its snapshot warehouse live there. */
object Harness {
  val WarmPasses = 2

  /** One execution of one query. `rows` is null when it failed. */
  final case class Outcome(name: String, module: String, startNs: Long,
      buildNs: Long, planNs: Long, execNs: Long, error: Option[String],
      df: Option[DataFrame], rows: Array[Row]) {
    def latencyNs: Long = buildNs + planNs + execNs
  }

  def session(cores: Int, scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs one query through build, plan and exec. With a span tag, each
    * phase runs under that `perfbench.span` local property so the probe
    * can hang the phase's Spark jobs under it. */
  def runQuery(spark: SparkSession, q: Query, data: String,
      span: Option[String]): Outcome = {
    val sc = spark.sparkContext
    def enter(phase: String): Unit =
      span.foreach(t => sc.setLocalProperty(Probe.SpanKey, s"$t/$phase"))
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    var df: Option[DataFrame] = None
    var rows: Array[Row] = null
    val error = try {
      val fn = q.fn.getOrElse(throw new NoSuchElementException(
        s"query ${q.name} is not in SparkEntry.queries"))
      enter("build")
      val built = fn(spark, data)
      df = Some(built)
      t1 = System.nanoTime(); enter("plan")
      built.queryExecution.executedPlan
      t2 = System.nanoTime(); enter("exec")
      rows = built.collect()
      t3 = System.nanoTime()
      None
    } catch {
      case e: Throwable =>
        t3 = System.nanoTime()
        if (t1 == t0) t1 = t3
        if (t2 == t0) t2 = t3
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally span.foreach(_ => sc.setLocalProperty(Probe.SpanKey, null))
    Outcome(q.name, q.module, t0, t1 - t0, t2 - t1, t3 - t2, error, df, rows)
  }

  /** Order-independent fingerprint of a result: row count and the sum
    * of per-row hashes, with arrays and nested rows hashed by value. */
  def fingerprint(rows: Array[Row]): String = {
    def h(v: Any): Int = v match {
      case null => 0
      case b: Array[Byte] => java.util.Arrays.hashCode(b)
      case r: Row => scala.util.hashing.MurmurHash3.orderedHash(r.toSeq.map(h))
      case m: scala.collection.Map[_, _] =>
        scala.util.hashing.MurmurHash3.unorderedHash(m.map { case (k, x) => (h(k), h(x)) })
      case s: scala.collection.Seq[_] => scala.util.hashing.MurmurHash3.orderedHash(s.map(h))
      case d: Double => java.lang.Double.hashCode(if (d == 0.0) 0.0 else d)
      case other => other.##
    }
    var sum = 0L
    rows.foreach(r => sum += (h(r).toLong & 0xffffffffL))
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  /** Files (path -> (size, mtime)) under the run's table directories. */
  def listFiles(roots: Seq[Path]): Map[String, (Long, Long)] =
    roots.filter(Files.isDirectory(_)).flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        try Some(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        catch { case _: java.io.IOException => None }
      }.toList
      finally walk.close()
    }.toMap

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = parseArgs(args)
    val names = Files.readAllLines(Paths.get(opt("queries"))).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val frozen = Files.readAllLines(Paths.get(opt("all-queries"))).asScala
      .map(_.trim).filter(_.nonEmpty).toSet
    val data = opt("data")
    val scratch = Paths.get(opt("scratch")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt

    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    require(tmp.startsWith(scratch), s"java.io.tmpdir $tmp is outside $scratch")
    val leftovers = Files.list(scratch).iterator().asScala
      .filterNot(p => p == tmp || tmp.startsWith(p)).toList
    require(leftovers.isEmpty && Files.list(tmp).iterator().asScala.isEmpty,
      s"scratch directory $scratch is not empty")
    val tableDirs = Seq(tmp, scratch.resolve("warehouse"))

    val queries = Workload.resolve(names)
    val spark = session(cores, scratch)
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    spark.streams.addListener(probe.streams)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Warm-up: untimed passes in list order. A fresh JVM loads every class
    // and compiles every generated-code shape on first use, and its JIT
    // keeps speeding the loop up for a few passes more; that cost belongs
    // to set-up, not to the timed passes.
    for (_ <- 1 to WarmPasses) queries.foreach(q => runQuery(spark, q, data, None))
    BusDrain(sc)
    probe.reset()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val rng = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val executions = mutable.LinkedHashMap[String, Int]()
    val errors = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
    val prints = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
    val lastRows = mutable.LinkedHashMap[String, (Array[Row], org.apache.spark.sql.types.StructType)]()
    val spans = mutable.ArrayBuffer[String]()
    var files = listFiles(tableDirs)
    val measureStart = System.nanoTime()
    val epochBaseMs = System.currentTimeMillis() - (System.nanoTime() - measureStart) / 1000000
    def relS(ns: Long): Double = (ns - measureStart) / 1e9
    def relMs(ms: Long): Double = (ms - epochBaseMs) / 1e3

    val minPasses = if (traced) 2 else 1
    while (passes.size < minPasses || (System.nanoTime() - measureStart) / 1e9 < seconds) {
      val idx = passes.size
      // Traced runs mix traced and untraced passes in ABBA order, so the
      // trace reports its own overhead from one JVM and the loop's
      // remaining warm-up drift cancels out of that difference.
      val tracePass = traced && (idx % 4 == 0 || idx % 4 == 3)
      val order = rng.shuffle(queries)
      val passStart = System.nanoTime()
      val outcomes = order.zipWithIndex.map { case (q, i) =>
        runQuery(spark, q, data, if (tracePass) Some(s"$idx/$i") else None)
      }
      val passEnd = System.nanoTime()
      BusDrain(sc)
      val wallS = (passEnd - passStart) / 1e9
      val c = probe.pass

      outcomes.foreach { o =>
        executions(o.name) = executions.getOrElse(o.name, 0) + 1
        o.error match {
          case Some(e) => errors.getOrElseUpdate(o.name, mutable.ArrayBuffer()) += e
          case None =>
            prints.getOrElseUpdate(o.name, mutable.ArrayBuffer()) += fingerprint(o.rows)
            lastRows(o.name) = (o.rows, o.df.get.schema)
        }
      }
      val now = listFiles(tableDirs)
      val written = now.filter { case (p, st) => !files.get(p).contains(st) }
      files = now
      // Heap right after a full collection: what the session retains. The
      // first collection only queues the pass's dead broadcasts and shuffles
      // for Spark's cleaner thread, which frees their blocks a little later;
      // the second one then sees the retained state alone.
      System.gc()
      Thread.sleep(300)
      System.gc()
      val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val rec = mutable.LinkedHashMap[String, Any](
        "traced" -> tracePass,
        "wall_s" -> wallS,
        "latencies_s" -> mutable.LinkedHashMap(outcomes.filter(_.error.isEmpty)
          .map(o => o.name -> o.latencyNs / 1e9): _*),
        "cpu_s" -> c.cpuNs / 1e9,
        // every byte the engine writes to disk: table files, shuffle, spill
        "disk_written_mb" -> (c.outputBytes + c.shuffleWrite + c.spill) / 1e6,
        "live_mb" -> now.values.map(_._1).sum / 1e6,
        "heap_live_mb" -> liveHeap / 1048576.0)

      if (tracePass) {
        val byQuery = outcomes.zipWithIndex.map { case (o, i) => s"$idx/$i" -> o }.toMap
        def phaseOf(span: String): String = span.split('/').lastOption.getOrElse("")
        def queryOf(span: String): Option[Outcome] =
          byQuery.get(span.split('/').take(2).mkString("/"))
        val jobs = probe.jobs.values.toSeq
        val layer = mutable.LinkedHashMap[String, Double]()
        layer("entry.build_s") = outcomes.map(_.buildNs).sum / 1e9
        layer("entry.build_jobs") = jobs.count(j => phaseOf(j.span) == "build").toDouble
        layer("plans.plan_s") = outcomes.map(_.planNs).sum / 1e9
        layer("exec.exec_s") = outcomes.map(_.execNs).sum / 1e9
        Workload.modules.foreach { case (m, _) =>
          layer(s"$m.wall_s") = outcomes.filter(_.module == m).map(_.latencyNs).sum / 1e9
          layer(s"$m.cpu_s") = jobs.filter(j => queryOf(j.span).exists(_.module == m))
            .map(_.counters.cpuNs).sum / 1e9
        }
        layer("engine.jobs") = c.jobs.toDouble
        layer("engine.stages") = c.stages.toDouble
        layer("engine.tasks") = c.tasks.toDouble
        val covered = Intervals.coveredS(
          jobs.map(j => (relMs(j.startMs), relMs(j.endMs))),
          outcomes.map(o => (relS(o.startNs), relS(o.startNs + o.latencyNs))))
        layer("engine.no_job_s") = wallS - covered
        layer("engine.executor_run_s") = c.runMs / 1e3
        layer("engine.core_util") = c.runMs / 1e3 / (wallS * cores)
        layer("engine.gc_s") = c.gcMs / 1e3
        layer("engine.shuffle_write_mb") = c.shuffleWrite / 1e6
        layer("engine.shuffle_read_mb") = c.shuffleRead / 1e6
        layer("engine.fetch_wait_s") = c.fetchWaitMs / 1e3
        layer("engine.spill_mb") = c.spill / 1e6
        layer("sources.input_mb") = c.inputBytes / 1e6
        layer("sources.input_rows") = c.inputRows.toDouble
        val rowsOut = outcomes.filter(_.error.isEmpty).map(_.rows.length.toLong).sum
        layer("sources.rows_read_per_row_out") = c.inputRows.toDouble / math.max(rowsOut, 1L)
        layer("catalog.files_written") = written.size.toDouble
        layer("catalog.bytes_written_mb") = written.values.map(_._1).sum / 1e6
        layer("catalog.files_live") = now.size.toDouble
        layer("streaming.batches") = probe.batches.toDouble
        layer("streaming.input_rows") = probe.batchRows.toDouble
        layer("streaming.batch_s") = probe.batchMs / 1e3
        layer("cache.storage_mb") =
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
        layer("trace.unattributed_s") = wallS - outcomes.map(_.latencyNs).sum / 1e9
        rec("layers") = layer
        spans ++= Trace.spans(idx, outcomes.zipWithIndex.map { case (o, i) => (s"$idx/$i", o) },
          jobs, probe.stages.values.toSeq, relS, relMs)
      }
      passes += rec
      probe.reset()
    }

    // Results of the last pass, for the oracle check outside the timed
    // region: one parquet directory per query plus the oracle SQL.
    val resultsDir = out.resolve("results")
    Files.createDirectories(resultsDir)
    lastRows.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(resultsDir.resolve(name).toString)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"), Json.render(oracle))
    if (traced) Files.writeString(out.resolve("trace.json"),
      spans.mkString("[\n", ",\n", "\n]\n"))

    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "cores" -> cores,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "passes" -> passes,
      "queries" -> names,
      "missing" -> queries.filter(_.fn.isEmpty).map(_.name),
      "uncovered" -> Workload.uncovered(frozen),
      "executions" -> executions,
      "errors" -> errors,
      "fingerprints" -> prints)
    Files.writeString(out.resolve("harness.json"), Json.render(result))
    spark.stop()
  }
}

/** Interval arithmetic for the trace's self times and idle time. */
object Intervals {
  /** Total length of the union of `spans`, clipped to the union of `within`. */
  def coveredS(spans: Seq[(Double, Double)], within: Seq[(Double, Double)]): Double = {
    val clipped = for {
      (a, b) <- spans; (lo, hi) <- within
      s = math.max(a, lo); e = math.min(b, hi) if e > s
    } yield (s, e)
    unionS(clipped)
  }

  def unionS(spans: Seq[(Double, Double)]): Double = {
    var total, end = 0.0
    var started = false
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > end) { total += e - s; end = e; started = true }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}
