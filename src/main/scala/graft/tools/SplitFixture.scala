package graft.tools

import org.apache.spark.sql.SaveMode

/** Writes a scan-parallel variant of a fixture dir: every `<table>.parquet`
  * re-written as `splits` files (one row group each), data identical.
  *
  * Why: each committed fixture table is ONE parquet file with ONE row
  * group, so every scan stage is ONE task no matter the core count — the
  * bench's low-core/high-core ratio is structurally ≈1 at sf0.1 and says
  * nothing about plan parallelism (VERDICT r15). Pointing
  * `SPARK_GRAFT_SF_DIR` at the split copy gives scan stages `splits`
  * tasks so the core-scaling signal is real. Additive tool: the committed
  * fixtures, the bench contract and the oracle gates are untouched.
  *
  * Rows are redistributed round-robin (repartition(n)); all declared
  * queries are order-insensitive in their outputs (canonical sorts), so
  * results are unchanged — the oracle gate can be pointed at a split copy
  * to prove it.
  *
  * Args: <srcDir> <dstDir> [splits=32]
  */
object SplitFixture {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SplitFixture <srcDir> <dstDir> [splits]")
    val src = args(0)
    val dst = args(1)
    val splits = if (args.length > 2) args(2).toInt else 32
    val spark = graft.BenchKit.session()
    val tables = new java.io.File(src).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet")).sorted
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      df.repartition(splits).write.mode(SaveMode.Overwrite)
        .parquet(s"$dst/$t.parquet")
      println(s"split $t: ${df.count()} rows -> $splits files")
    }
    spark.stop()
  }
}
