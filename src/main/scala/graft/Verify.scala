package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query-name filter (local iteration).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = BenchKit.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // progress marker BEFORE the action: when a query wedges (e.g. a
      // plan that explodes at a larger SF), the last start line names it
      System.err.println(s"[verify] start $name")
      val dt = BenchKit.time(s"[verify] $name")(
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      if (!dt.isInfinite) System.err.println(f"[verify] done $name $dt%.1fs")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      BenchKit.json(BenchKit.Obj(SparkEntry.oracleSql.toSeq: _*)))
    spark.stop()
  }
}
