package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame

import perfbench.Harness.{Span, Tracer, Workload}

/** Order-independent result fingerprint: row count plus the exact sum of a
  * 64-bit hash of every row over all its columns. The rows are collected to
  * the driver, which re-runs the query's plan but compiles no new code.
  * Floating-point cells are hashed at nine significant digits, so a
  * last-bit difference from another summation order (another core count) is
  * not a mismatch; timestamps hash as UTC microseconds, whichever Java type
  * carries them.
  */
object Fingerprint {
  def apply(df: DataFrame): String = {
    var sum = BigInt(0)
    var rows = 0L
    df.collect().foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(cell(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(md).getLong
      rows += 1
    }
    s"$rows:$sum"
  }

  private def micros(epochSecond: Long, nano: Int): String =
    (BigInt(epochSecond) * 1000000 + nano / 1000).toString

  def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => if (d.isNaN) "NaN" else String.format(java.util.Locale.ROOT, "%.8e", Double.box(d))
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => cell(b.bigDecimal)
    case t: java.sql.Timestamp => cell(t.toInstant)
    case t: java.time.Instant => micros(t.getEpochSecond, t.getNano)
    case t: java.time.LocalDateTime =>
      micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: org.apache.spark.sql.Row => r.toSeq.map(cell).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }
}

object Stats {
  def median(sorted: IndexedSeq[Double]): Double = {
    val n = sorted.size
    if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
  }
}

/** Host noise and JVM memory, sampled around each pass. */
object Host {
  /** Steal and total jiffies from the aggregate cpu line of /proc/stat. */
  def sample(): (Long, Long, Double) = {
    val (steal, total) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val cols = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
        (cols.lift(7).getOrElse(0L), cols.sum)
      } catch { case _: Exception => (0L, 0L) }
    (steal, total, java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
  }

  def delta(a: (Long, Long, Double), b: (Long, Long, Double)): Map[String, Any] = Map(
    "steal_pct" -> 100.0 * (b._1 - a._1) / math.max(1L, b._2 - a._2),
    "load1_start" -> a._3, "load1_end" -> b._3)

  /** Used heap after full GCs; the later GCs collect what Spark's cleaner
    * released when the first one cleared its weak references. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }
}

object Fs {
  /** Every regular file under `root` with its (length, mtime). */
  def listing(root: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[(String, (Long, Long))] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f.getPath -> (f.length(), f.lastModified()))
      else Nil
    walk(new File(root)).toMap
  }

  def parquetBytes(root: String): Long =
    listing(root).collect { case (f, (len, _)) if f.endsWith(".parquet") => len }.sum
}

/** Per-layer metrics of the traced pass. Times and counts are means per op;
  * ratios are over the pass. Every metric is present for every workload,
  * zero where its layer does not run.
  */
object Layers {
  val spanMetrics = Seq(
    "config.load", "config.mark_processed", "etl.bronze.write", "etl.silver.fill",
    "etl.clean.write", "etl.processed.write", "etl.quarantine.write",
    "ops.build", "exec.materialize")
  val jobFiles = Seq("Writer.scala", "Skipping.scala", "BloomSkipping.scala",
    "Graph.scala", "Dedup.scala", "Similarity.scala", "StreamOps.scala",
    "SparkEntry.scala", "Tables.scala", "Harness.scala", "stream_batch", "other")

  private def union(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) covered += b - lo
      reach = math.max(reach, b)
    }
    covered
  }

  /** `tracedS`: the pass's op times as the harness's attempt measured
    * them, against which the span self times are a coverage. */
  def compute(t: Tracer, p: Probe, wl: Workload, tracedS: Double): Map[String, Any] = {
    val spans = t.spans.toIndexedSeq
    val ops = spans.filter(_.name == "op")
    val n = math.max(1, ops.size).toDouble
    val children = spans.groupBy(_.parent)
    def dur(s: Span) = s.endMs - s.startMs
    def self(s: Span) = dur(s) - union(children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
    val opWall = ops.map(dur).sum
    def within(s: Span, ms: Double) = ms >= s.startMs && ms <= s.endMs
    def opAt(ms: Double) = ops.find(within(_, ms))
    /** innermost span open at `ms` */
    def spanAt(ms: Double) = spans.filter(within(_, ms)).sortBy(-_.startMs).headOption
    def perOp(x: Double) = x / n

    val jobs = p.jobs.toIndexedSeq.filter(j => opAt(j.start.toDouble).isDefined)
    val jobSpan = jobs.map(j => j -> spanAt(j.start.toDouble).map(_.name).getOrElse(""))
    val busy = ops.map { o =>
      union(jobs.filter(j => within(o, j.start.toDouble))
        .map(j => (j.start.toDouble, math.min(j.end.toDouble, o.endMs))))
    }
    val tasks = p.tasks.toIndexedSeq.filter(k => opAt(k.launch.toDouble).isDefined)
    val phases = p.phases.toIndexedSeq.filter(ph => opAt(ph.start.toDouble).isDefined)
    def phase(name: String) = phases.filter(_.name == name).map(ph => ph.end - ph.start).sum / 1e3
    val skew = ops.flatMap { o =>
      val stages = tasks.filter(k => within(o, k.launch.toDouble)).groupBy(k => (k.stage, k.stageAttempt))
        .values.filter(_.size >= 2).map { ks =>
          val d = ks.map(k => (k.finish - k.launch).toDouble).sorted
          d.last / math.max(1.0, Stats.median(d))
        }
      if (stages.isEmpty) None else Some(stages.max)
    }
    val batches = p.batches.toIndexedSeq.flatMap(b => opAt(b.end.toDouble).map(_.id -> b))
    val pruned = wl.prunedReads.map { case (isRead, tableBytes) =>
      val reads = spans.filter(isRead)
      val bytes = tasks.filter(k => reads.exists(r => within(r, k.launch.toDouble))).map(_.inputBytes).sum
      bytes.toDouble / math.max(1L, tableBytes * reads.size)
    }.getOrElse(0.0)
    val etl = wl.etlSinks.getOrElse(Map.empty).map { case (k, v) => k -> v.asInstanceOf[Double] }
    def etlv(k: String) = etl.getOrElse(k, 0.0)
    val csv = math.max(1.0, etlv("csv_bytes"))
    val mb = 1048576.0

    val metrics = spanMetrics.map(s =>
      s"${s}_s" -> perOp(spans.filter(_.name == s).map(dur).sum / 1e3)) ++ Seq(
      "ops.build_jobs" -> perOp(jobSpan.count(_._2 == "ops.build")),
      "exec.materialize_jobs" -> perOp(jobSpan.count(_._2 == "exec.materialize")),
      "etl.files_written" -> perOp(etlv("files_written")),
      "etl.bytes_written_per_input_byte" -> etlv("bytes_written") / csv,
      "etl.quarantine_ratio" -> etlv("quarantine_rows") /
        math.max(1.0, etlv("clean_rows") + etlv("quarantine_rows")),
      "stored_bytes_per_input_byte" -> etlv("stored_bytes") / csv,
      "sources.bytes_read_per_table_byte" -> pruned,
      "streaming.batches" -> perOp(batches.size),
      "streaming.batch_s" -> perOp(batches.map(_._2.durationMs).sum / 1e3),
      "streaming.state_commit_s" -> perOp(batches.map(_._2.commitMs).sum / 1e3),
      "streaming.state_rows" -> perOp(batches.groupBy(_._1).values.map(_.map(_._2.stateRows).max).sum),
      "spark.jobs_per_op" -> perOp(jobs.size),
      "spark.job_busy_s" -> perOp(busy.sum / 1e3),
      "driver.gap_s" -> perOp((opWall - busy.sum) / 1e3),
      "catalyst.analysis_s" -> perOp(phase("analysis")),
      "catalyst.optimization_s" -> perOp(phase("optimization")),
      "catalyst.planning_s" -> perOp(phase("planning")),
      "codegen.compile_s" -> perOp(p.codegenSeconds),
      "codegen.classes" -> perOp(p.codegenClasses),
      "spark.sched_delay_s" -> perOp(tasks.map(_.schedMs).sum / 1e3),
      "spark.task_cpu_s" -> perOp(tasks.map(_.cpuNs).sum / 1e9),
      "spark.shuffle_read_mb" -> perOp(tasks.map(_.shuffleRead).sum / mb),
      "spark.shuffle_write_mb" -> perOp(tasks.map(_.shuffleWrite).sum / mb),
      "spark.spill_mb" -> perOp(tasks.map(_.spill).sum / mb),
      "spark.task_skew" -> (if (skew.isEmpty) 0.0 else skew.sum / skew.size),
      "spark.failed_task_attempts" -> tasks.count(_.failed).toDouble,
      "jvm.gc_s" -> perOp(p.gcSeconds),
      "trace.self_coverage" -> spans.filter(_.op >= 0).map(self).sum / math.max(1e-9, tracedS * 1e3),
      "trace.op_self_s" -> perOp(ops.map(self).sum / 1e3)) ++
      jobFiles.map(f => s"spark.job_s.$f" -> perOp(jobs
        .filter(j => j.file == f || (f == "other" && !jobFiles.contains(j.file)))
        .map(j => j.end - j.start).sum / 1e3))
    metrics.toMap
  }
}

/** The spec and result files, through the json4s that Spark ships. Numbers
  * read back as BigInt or Double; `num` takes either. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def write(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)
  def parse(s: String): Any = org.json4s.jackson.JsonMethods.parse(s).values
  def num(v: Any): Double = v match {
    case n: BigInt => n.toDouble
    case n: Double => n
  }
}
