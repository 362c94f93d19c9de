package perfbench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Digests of oracle-checked result dumps: for each query name, the
  * [[BenchMain.fingerprint]] of `<dumpDir>/<name>` as `graft.Verify` wrote
  * it. A benchmark run's live results must reproduce these digests.
  *
  * Usage: perfbench.Reference <dumpDir> <out.tsv> <name>... */
object Reference {
  def main(args: Array[String]): Unit = {
    val dumpDir = args(0)
    val spark = GraftSession.build("local[2]", "2")
    val lines = args.drop(2).toSeq.map { q =>
      s"$q\t${BenchMain.fingerprint(spark.read.parquet(s"$dumpDir/$q"))}"
    }
    Files.writeString(Paths.get(args(1)), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
