package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.config.{CountryParam, EtlConfig}
import graft.etl.{Bronze, Pipeline, Silver, Writer}

/** One benchmark run in one JVM: a closed loop with one client over one
  * workload's ops, with an untimed warm pass, whole timed passes, an output
  * check after every op and, with tracing on, a traced pass whose spans and
  * listener events give the per-layer metrics. Writes one JSON result file.
  *
  * run.py writes the spec; a spec with `warm_only` set stops after the warm
  * pass (the class-data training run).
  */
object Harness {

  /** An op's timed body; `traced` runs the same work split into spans. */
  final case class Op(name: String, run: () => Unit, traced: Tracer => Unit,
      check: () => Option[String])

  final case class Sample(op: String, seconds: Double)

  /** Harness <spec.json> <result.json> [<spec.json> <result.json> ...]:
    * the runs happen in turn, in one JVM. */
  def main(args: Array[String]): Unit =
    args.grouped(2).foreach { case Array(specFile, resultFile) =>
      val spec = Json.parse(new String(Files.readAllBytes(Paths.get(specFile)), UTF_8))
        .asInstanceOf[Map[String, Any]]
      Files.write(Paths.get(resultFile), Json.write(run(spec)).getBytes(UTF_8))
    }

  private def str(spec: Map[String, Any], k: String): String = spec(k).toString
  private def num(spec: Map[String, Any], k: String): Double = Json.num(spec(k))

  def run(spec: Map[String, Any]): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = str(spec, "workload")
    val trace = num(spec, "trace") > 0
    val runDir = str(spec, "run_dir")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // the session Bench and Verify run the registered queries under
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val wl: Workload = workload match {
      case "etl_countries" => new EtlWorkload(spark, spec)
      case "ops_iterative" => new QueryWorkload(spark, spec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val t0 = System.nanoTime()
      wl.stage()
      val stagingS = (System.nanoTime() - t0) / 1e9
      val ops = wl.ops
      var attempted = 0
      var failed = 0
      var checkS = 0.0
      val failures = ArrayBuffer.empty[String]
      /** Runs one op; returns its time and the error it threw, if any. */
      def attempt(op: Op, body: () => Unit): (Double, Option[String]) = {
        attempted += 1
        val s0 = System.nanoTime()
        val err = try { body(); None } catch {
          case e: Exception => Some(s"${op.name} threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        ((System.nanoTime() - s0) / 1e9, err)
      }
      /** Outside the op's timing, checks its output unless it threw (timed
        * ops only); returns whether the op succeeded. */
      def verify(op: Op, thrown: Option[String], check: Boolean = true): Boolean = {
        val s0 = System.nanoTime()
        val err = if (!check) thrown else thrown.orElse(try op.check() catch {
          case e: Exception => Some(s"${op.name} check threw ${e.getMessage}")
        })
        checkS += (System.nanoTime() - s0) / 1e9
        err.foreach { m => failed += 1; failures += m.take(300) }
        err.isEmpty
      }

      val w0 = System.nanoTime()
      wl.beforePass()
      val warmOps = ops.map { op =>
        val (dt, thrown) = attempt(op, op.run)
        verify(op, thrown, check = false)
        wl.afterOp()
        op.name -> dt
      }
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

      // whole passes, so every op of the list weighs the same in every run,
      // and a fixed count, so every run of a workload has the same samples
      val samples = ArrayBuffer.empty[Sample]
      val passes = ArrayBuffer.empty[Map[String, Any]]
      var liveHeapMb = 0.0
      // the warm pass runs the ops in their listed order, so every run's
      // JIT starts from the same history; the timed passes run them in
      // seeded order, rotated by one op a pass, so no op always follows the
      // pass boundary (its output check and full GCs)
      val order = new scala.util.Random(num(spec, "seed").toLong).shuffle(ops)
      var passNo = 0
      /** Returns the summed time of the pass's ops, failed ones included. */
      def timedPass(body: Op => () => Unit): Double = {
        val host0 = Host.sample()
        wl.beforePass()
        var wall = 0.0
        val k = passNo % math.max(1, order.size)
        passNo += 1
        val unchecked = ArrayBuffer.empty[(Op, Double, Option[String])]
        def record(op: Op, dt: Double, thrown: Option[String]): Unit =
          if (verify(op, thrown)) samples += Sample(op.name, dt)
        (order.drop(k) ++ order.take(k)).foreach { op =>
          val (dt, thrown) = attempt(op, body(op))
          if (wl.checksAfterPass) unchecked += ((op, dt, thrown))
          else record(op, dt, thrown)
          wl.afterOp()
          wall += dt
        }
        unchecked.foreach { case (op, dt, thrown) => record(op, dt, thrown) }
        liveHeapMb = Host.liveHeapMb()
        passes += Host.delta(host0, Host.sample()) ++ Map("ops_s" -> wall, "live_heap_mb" -> liveHeapMb)
        wall
      }
      if (!spec.get("warm_only").contains(true))
        (1 to num(spec, "passes").toInt).foreach(_ => timedPass(op => op.run))

      var traceReport = Map.empty[String, Any]
      val layers: Map[String, Any] =
        if (!trace) Map.empty
        else {
          val untracedWall = passes.lastOption.fold(0.0)(_("ops_s").asInstanceOf[Double])
          val tracer = new Tracer
          val probe = new Probe(spark)
          probe.start()
          // GC and codegen totals are JVM-wide: the probe samples them
          // around each op's body only, not around its check or the
          // full GCs that end the pass
          val tracedWall = timedPass(op => () => probe.window(tracer.op(op.name)(op.traced(tracer))))
          probe.stop()
          traceReport = Map("other_job_sites" -> probe.otherSites.toSeq.sorted.take(20),
            "traced_pass_s" -> tracedWall, "untraced_pass_s" -> untracedWall)
          val traceFile = str(spec, "trace_out")
          Files.createDirectories(Paths.get(traceFile).getParent)
          Files.write(Paths.get(traceFile), Json.write(tracer.spans.map(_.toMap).toSeq).getBytes(UTF_8))
          Layers.compute(tracer, probe, wl, tracedWall) ++ Map(
            "setup.session_s" -> sessionS, "setup.warm_s" -> warmS,
            "setup.staging_s" -> stagingS,
            "trace.overhead" -> (tracedWall / untracedWall - 1.0))
        }

      val times = samples.map(_.seconds).sorted.toIndexedSeq
      val n = times.size
      // a pass of every op at its median time over the run's passes, so one
      // disturbed op does not move the throughput
      val perOp = samples.groupBy(_.op).values.map(v => Stats.median(v.map(_.seconds).sorted.toIndexedSeq))
      // the highest percentile with at least ten samples beyond it; below
      // 22 samples that rank is at or under the median, and any single
      // rank near the top is one disturbed op of a dozen, so a smaller run
      // takes its slowest op at that op's median over the passes instead
      val tailByRank = n >= 22
      val tail = if (n == 0) 0.0 else if (tailByRank) times(n - 11) else perOp.max
      val endToEnd = Map[String, Any](
        "setup_s" -> setupS,
        "ops_per_s" -> (if (perOp.sum > 0) perOp.size / perOp.sum else 0.0),
        "op_s_p50" -> (if (n > 0) Stats.median(times) else 0.0),
        "op_s_tail" -> tail,
        "live_heap_mb" -> liveHeapMb)
      Map(
        "attempted" -> attempted, "failed" -> failed,
        "end_to_end" -> endToEnd, "per_layer" -> layers,
        "report" -> (wl.report ++ traceReport ++ Map(
          "samples" -> n,
          "tail_percentile" -> (if (n == 0) 0.0 else 100.0 * times.count(_ <= tail) / n),
          "tail_rule" -> (if (tailByRank) "ten samples beyond" else "slowest op's median"),
          "failed_op_ratio" -> failed.toDouble / math.max(1, attempted),
          "failures" -> failures.take(20).toSeq,
          "passes" -> passes.toSeq,
          "setup_session_s" -> sessionS, "setup_staging_s" -> stagingS,
          "setup_warm_s" -> warmS, "check_s" -> checkS,
          "warm_ops_s" -> warmOps.toMap,
          "op_s" -> samples.groupBy(_.op).map { case (k, v) => k -> v.map(_.seconds) })))
    } finally {
      spark.stop()
    }
  }

  /** A workload: its ops and the state hygiene around them. */
  trait Workload {
    def stage(): Unit = ()
    def ops: Seq[Op]
    /** Check every op of a pass after its last op, not after each op. */
    def checksAfterPass: Boolean = false
    def beforePass(): Unit = ()
    def afterOp(): Unit = ()
    def report: Map[String, Any] = Map.empty
    /** The spans that hold the workload's pruned reads, and the on-disk
      * bytes of the table each of them prunes. */
    def prunedReads: Option[(Span => Boolean, Long)] = None
    def etlSinks: Option[Map[String, Any]] = None
  }

  // ---------------------------------------------------------------- ETL

  final class EtlWorkload(spark: SparkSession, spec: Map[String, Any]) extends Workload {
    private val configPath = str(spec, "config")
    private val template = new String(Files.readAllBytes(Paths.get(str(spec, "config_template"))), UTF_8)
    private val expected = spec("expected").asInstanceOf[Map[String, Map[String, Any]]]
    private val csvBytes = Files.size(Paths.get(str(spec, "csv")))
    private val countries = expected.keys.toSeq.sorted
    private val sinkCounts = scala.collection.mutable.Map.empty[String, (Long, Long)]
    private var outRoot = ""
    private var filesWritten = 0L
    private var bytesWritten = 0L

    /** A country's op replaces only that country's partitions, so the
      * sinks read after a pass hold every op's output: one read of each
      * sink per pass checks them all, and the ops run back to back, as in
      * `Pipeline.run`. */
    override def checksAfterPass: Boolean = true
    private var passOutput: Option[Map[String, (Long, Long, Map[String, Long])]] = None

    /** The pipeline writes `proccess: YES` back; each pass starts unprocessed. */
    override def beforePass(): Unit = {
      Files.write(Paths.get(configPath), template.getBytes(UTF_8))
      passOutput = None
    }

    private def load(): EtlConfig = EtlConfig.load(configPath) match {
      case Right(c) => c
      case Left(errs) => throw new IllegalStateException(errs.mkString("; "))
    }
    private def param(cfg: EtlConfig, c: String): CountryParam =
      cfg.params.find(_.country == c).getOrElse(sys.error(s"$c not configured"))

    val ops: Seq[Op] = countries.map { c =>
      Op(c,
        run = () => {
          val cfg = load()
          outRoot = cfg.outputRoot
          Pipeline.runCountry(spark, cfg, param(cfg, c))
          EtlConfig.markProcessed(configPath, cfg, c)
          ()
        },
        traced = t => tracedCountry(t, c),
        check = () => check(c))
    }

    /** The public calls of sequential `Pipeline.runCountry`, in its order,
      * each in its own span; the enriched cache is filled in its own span. */
    private def tracedCountry(t: Tracer, c: String): Unit = {
      val cfg = t.span("config.load")(load())
      val p = param(cfg, c)
      val paths = Pipeline.Paths.under(cfg.outputRoot)
      val before = Fs.listing(cfg.outputRoot)
      val bronze = t.span("etl.bronze.plan")(Bronze(spark, cfg.rawCsv, c, p.startDate, p.endDate))
      t.span("etl.bronze.write")(Writer.replaceCountryRangePartitioned(
        bronze, paths.bronze, dateCol = "fecha_proceso", countryCol = "pais",
        country = c, startDate = p.startDate, endDate = p.endDate,
        statsColumns = Seq("precio", "cantidad")))
      val enriched = t.span("etl.silver.fill") {
        val pruned = graft.sources.GraftParquetSource.read(spark, paths.bronze)
          .filter(s"pais = '$c' AND fecha_proceso >= DATE '${p.startDate}' AND " +
            s"fecha_proceso <= DATE '${p.endDate}'")
        val e = Silver.enriched(Silver.renamed(Bronze.slice(pruned, c, p.startDate, p.endDate)),
          cfg, cfg.rawCsv).persist(StorageLevel.MEMORY_AND_DISK)
        e.count()
        e
      }
      try {
        val clean = Silver.clean(enriched)
        t.span("etl.clean.write")(Writer.replaceCountryRangePartitioned(
          clean, paths.silverClean, dateCol = "fec_proceso", countryCol = "cod_pais",
          country = c, startDate = p.startDate, endDate = p.endDate,
          statsColumns = Seq("mto_venta", "cant_uni_medida")))
        t.span("etl.processed.write")(Writer.replaceCountryRangePartitioned(
          clean, paths.processedDir, dateCol = "fec_proceso", countryCol = "cod_pais",
          country = c, startDate = p.startDate, endDate = p.endDate))
        t.span("etl.quarantine.write")(Writer.replaceCountryRange(
          spark, Silver.quarantine(enriched), paths.silverQuarantine,
          partitionCol = "fec_proceso", countryCol = "cod_pais",
          country = c, startDate = p.startDate, endDate = p.endDate, dateAsString = true))
      } finally enriched.unpersist()
      t.span("config.mark_processed")(EtlConfig.markProcessed(configPath, cfg, c))
      outRoot = cfg.outputRoot
      val after = Fs.listing(cfg.outputRoot)
      val fresh = after.filter { case (f, st) => !before.get(f).contains(st) }
      filesWritten += fresh.size
      bytesWritten += fresh.values.map(_._1).sum
      ()
    }

    /** Clean, processed and quarantine rows of the country, and the
      * quarantine reason histogram, against the generator's counts. */
    private def check(c: String): Option[String] = {
      val output = passOutput.getOrElse {
        val paths = Pipeline.Paths.under(outRoot)
        def rows(dir: String): Map[String, Long] = spark.read.parquet(dir).groupBy("cod_pais")
          .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val clean = rows(paths.silverClean)
        val processed = rows(paths.processedDir)
        val hist = spark.read.parquet(paths.silverQuarantine).groupBy("cod_pais", "motivo_obs")
          .count().collect().groupBy(_.getString(0))
          .map { case (k, rs) => k -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap }
        val all = (clean.keySet ++ processed.keySet ++ hist.keySet).map { k =>
          k -> ((clean.getOrElse(k, 0L), processed.getOrElse(k, 0L), hist.getOrElse(k, Map.empty[String, Long])))
        }.toMap
        passOutput = Some(all)
        all
      }
      val exp = expected(c)
      val (clean, processed, hist) = output.getOrElse(c, (0L, 0L, Map.empty[String, Long]))
      val quarantine = hist.values.sum
      sinkCounts(c) = (clean, quarantine)
      val wantHist = exp("motivo").asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> Json.num(v).toLong }
      val wantClean = Json.num(exp("clean")).toLong
      if (clean != wantClean || processed != wantClean || hist != wantHist)
        Some(s"$c: clean=$clean processed=$processed quarantine=$hist, " +
          s"expected clean=$wantClean quarantine=$wantHist")
      else None
    }

    private def storedBytes: Long = {
      val p = Pipeline.Paths.under(outRoot)
      Seq(p.bronze, p.silverClean, p.silverQuarantine, p.processedDir)
        .map(d => Fs.listing(d).values.map(_._1).sum).sum
    }

    override def prunedReads: Option[(Span => Boolean, Long)] =
      Some(((s: Span) => s.name == "etl.silver.fill") -> Fs.parquetBytes(Pipeline.Paths.under(outRoot).bronze))

    override def etlSinks: Option[Map[String, Any]] = Some(Map(
      "files_written" -> filesWritten.toDouble,
      "bytes_written" -> bytesWritten.toDouble,
      "csv_bytes" -> csvBytes.toDouble,
      "stored_bytes" -> storedBytes.toDouble,
      "clean_rows" -> sinkCounts.values.map(_._1).sum.toDouble,
      "quarantine_rows" -> sinkCounts.values.map(_._2).sum.toDouble))

    override def report: Map[String, Any] = Map(
      "csv_bytes" -> csvBytes,
      "stored_bytes_per_input_byte" -> storedBytes.toDouble / csvBytes,
      "sink_rows" -> sinkCounts.toSeq.sortBy(_._1)
        .map { case (c, (cl, q)) => Map("country" -> c, "clean" -> cl, "quarantine" -> q) })
  }

  // ------------------------------------------------------------ queries

  final class QueryWorkload(spark: SparkSession, spec: Map[String, Any]) extends Workload {
    private val dataDir = str(spec, "data_dir")
    private val expected = spec("expected").asInstanceOf[Map[String, String]]
    private val names: Seq[String] = spec("queries").asInstanceOf[Seq[Any]].map(_.toString)
    /** The stamp-keyed micro-batch split files q309 streams, built before
      * the warm pass so their cost shows as its own set-up figure. */
    override def stage(): Unit =
      if (names.contains("q309_stream_neardup")) {
        graft.Tables.documentsStreamBatched(spark, dataDir, mode = "hash")
        ()
      }

    val ops: Seq[Op] = names.map { q =>
      val fn = graft.SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))
      var last: DataFrame = null
      Op(q,
        run = () => { last = fn(spark, dataDir); materialize(last) },
        traced = t => {
          last = t.span("ops.build")(fn(spark, dataDir))
          t.span("exec.materialize")(materialize(last))
        },
        check = () => {
          val got = Fingerprint(last)
          last = null
          expected.get(q) match {
            case Some(want) if want == got => None
            case Some(want) => Some(s"$q: fingerprint $got, expected $want")
            case None => Some(s"$q: no expected fingerprint")
          }
        })
    }

    /** Every column of every row, final sort included, into Spark's noop sink. */
    private def materialize(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    /** Each op pays for its own state only (the Bench hygiene). */
    override def afterOp(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    override def report: Map[String, Any] = Map("queries" -> names.size)
  }

  // ---------------------------------------------------------- tracing

  final case class Span(id: Int, parent: Int, op: Int, opName: String, name: String,
      startMs: Double, endMs: Double) {
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "op" -> op,
      "op_name" -> opName, "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs)
  }

  /** In-memory spans around the harness's calls into each layer; times are
    * wall-clock milliseconds so they line up with listener events. */
  final class Tracer {
    val spans = ArrayBuffer.empty[Span]
    private val origin = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
    private def now(): Double = origin + System.nanoTime() / 1e6
    private var stack = List.empty[Int]
    private var opId = -1
    private var opName = ""

    def span[T](name: String)(body: => T): T = {
      val id = spans.size
      spans += Span(id, stack.headOption.getOrElse(-1), opId, opName, name, now(), Double.NaN)
      stack = id :: stack
      try body finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = now())
      }
    }

    def op(name: String)(body: => Unit): Unit = {
      opId += 1
      opName = name
      span("op")(body)
    }
  }
}
