package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Expectation tool (not part of a timed run):
  *
  *   DumpFingerprints <dumpDir> <out.json> <query ...>
  *
  * fingerprints each query's result in a dump written by graft.Verify, the
  * source of the checked-in expected fingerprints.
  */
object DumpFingerprints {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args.take(2)
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = args.drop(2).map(q => q -> Fingerprint(spark.read.parquet(s"$dir/$q")))
    Files.write(Paths.get(out), Json.write(rows.toMap).getBytes(UTF_8))
    spark.stop()
  }
}
