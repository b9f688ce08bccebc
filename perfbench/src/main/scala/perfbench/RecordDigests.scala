package perfbench

import graft.SparkEntry

/**
 * Prints `batch_digests.tsv` lines for the batch rows:
 *
 *   perfbench.RecordDigests <sf0.1 dir> <Verify output dir>
 *
 * The Verify output dir holds `graft.Verify`'s parquet dump of the same
 * rows, already matched against the DuckDB oracle by
 * `tools/local_verify.py`. A row's digest is printed only when the live
 * run and that verified dump digest alike; otherwise the row is reported
 * and the program exits 1.
 */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, verified) = args
    val spark = Common.startSession()
    var bad = 0
    BatchBench.Rows.foreach { name =>
      val live = BatchBench.digestOf(SparkEntry.queries(name)(spark, dataDir), name)
      val dumped = BatchBench.digestOf(spark.read.parquet(s"$verified/$name"), name)
      if (live == dumped) println(s"$name\t$live")
      else { bad += 1; System.err.println(s"$name: live $live != verified dump $dumped") }
    }
    spark.stop()
    sys.exit(if (bad == 0) 0 else 1)
  }
}
