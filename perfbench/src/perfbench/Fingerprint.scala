package perfbench

import graft.core.Sinks

/** Prints `name<TAB>fingerprint<TAB>rows` for each parquet directory
  * given, e.g. the per-query outputs graft.Verify writes, so expected
  * fingerprints can be tied to outputs the DuckDB oracle has checked.
  *
  * Usage: perfbench.Fingerprint DIR...
  */
object Fingerprint {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    args.foreach { dir =>
      val df = spark.read.parquet(dir)
      val name = new java.io.File(dir).getName
      println(s"$name\t${Sinks.fingerprint(df)}\t${df.count()}")
    }
    spark.stop()
  }
}
