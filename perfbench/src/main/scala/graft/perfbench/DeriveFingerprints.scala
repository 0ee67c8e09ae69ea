package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** Fingerprints every gate result in a `graft.Verify` output directory
  * (one parquet directory per gate, as written by Verify) and writes them
  * as one JSON object, gate name to [[Fingerprint]]. Run by
  * `perfbench/derive_fingerprints.py` after `scripts/crosscheck.py` has
  * passed that same output against DuckDB.
  *
  * Usage: DeriveFingerprints <verify_out_dir> <out.json>
  *        DeriveFingerprints --gates   (prints every workload's gates) */
object DeriveFingerprints {
  def main(args: Array[String]): Unit = {
    if (args.sameElements(Seq("--gates"))) {
      println(Workloads.all.values.flatMap(_.gates).toSeq.distinct.sorted.mkString(","))
      return
    }
    Configurator.setRootLevel(Level.WARN)
    val Array(verifyOut, out) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val gates = new java.io.File(verifyOut).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("q")).map(_.getName).sorted
      val fps = gates.map(g => g -> Fingerprint.of(spark.read.parquet(s"$verifyOut/$g")).toString)
      Files.writeString(Paths.get(out),
        org.json4s.jackson.Serialization.write(fps.toMap)(org.json4s.DefaultFormats))
    } finally spark.stop()
  }
}
