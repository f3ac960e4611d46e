package graft

import java.io.{File, FileOutputStream}

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, Float8Vector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ArrowFileWriter

import graft.sources.ArrowIpc

/** from_arrow: round-trips an Arrow IPC file written with the bundled
  * arrow-vector runtime through the ArrowIpc source. */
class ArrowIpcSpec extends SparkSuite {

  private def writeArrowFile(path: String): Unit = {
    val alloc = new RootAllocator()
    val id = new BigIntVector("id", alloc)
    val price = new Float8Vector("price", alloc)
    val name = new VarCharVector("name", alloc)
    val root = VectorSchemaRoot.of(id, price, name)
    val rows = Seq((1L, 9.5, "ann"), (2L, 3.25, "bob"), (3L, 7.0, "che"))
    root.allocateNew()
    rows.zipWithIndex.foreach { case ((i, p, n), r) =>
      id.setSafe(r, i)
      price.setSafe(r, p)
      name.setSafe(r, n.getBytes("UTF-8"))
    }
    // a null in every column type
    id.setNull(1)
    root.setRowCount(rows.size)
    val out = new FileOutputStream(path)
    val writer = new ArrowFileWriter(root, null, out.getChannel)
    try { writer.start(); writer.writeBatch(); writer.end() }
    finally { writer.close(); out.close(); root.close(); alloc.close() }
  }

  test("reads an Arrow IPC file with schema, values, and nulls intact") {
    val f = File.createTempFile("graft_arrow", ".arrow")
    f.deleteOnExit()
    writeArrowFile(f.getAbsolutePath)
    val df = ArrowIpc.read(spark, f.getAbsolutePath)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("id", "bigint"), ("price", "double"), ("name", "string")))
    val got = df.orderBy("price").collect()
    assert(got.length == 3)
    assert(got.map(_.getAs[String]("name")).toSeq == Seq("bob", "che", "ann"))
    val nullRow = got.find(_.getAs[String]("name") == "bob").get
    assert(nullRow.isNullAt(nullRow.fieldIndex("id")))
  }

  test("write round-trips a DataFrame through Arrow IPC, nulls and all types intact") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("n", IntegerType),
      StructField("x", DoubleType), StructField("f", FloatType),
      StructField("s", StringType), StructField("b", BooleanType)))
    val rows = Seq(
      Row(1L, 10, 1.5, 2.5f, "alpha", true),
      Row(2L, null, null, null, null, null),
      Row(null, 30, 3.5, 4.5f, "gamma", false))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_rt").toFile
    dir.deleteOnExit()
    graft.sources.ArrowIpc.write(df, dir.getAbsolutePath, batchRows = 2)
    val back = ArrowIpc.read(spark, dir.getAbsolutePath)
    assert(back.schema.map(f => (f.name, f.dataType.simpleString)) ==
      schema.map(f => (f.name, f.dataType.simpleString)))
    // symmetric exceptAll == frame equality regardless of row/file order
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    assert(back.count() == 3)
  }

  test("re-write into the same directory clears stale parts; stray files are ignored") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_ow").toFile
    dir.deleteOnExit()
    graft.sources.ArrowIpc.write(
      (1L to 8L).toDF("v").repartition(8), dir.getAbsolutePath)
    // a marker file a distributed writer would leave behind
    java.nio.file.Files.writeString(new java.io.File(dir, "_SUCCESS").toPath, "")
    graft.sources.ArrowIpc.write(
      (100L to 101L).toDF("v").repartition(1), dir.getAbsolutePath)
    val back = ArrowIpc.read(spark, dir.getAbsolutePath)
    // without the overwrite cleanup the 8 stale parts union in silently;
    // without the extension filter the _SUCCESS file kills the scan
    assert(back.orderBy("v").collect().map(_.getLong(0)).toSeq == Seq(100L, 101L))
  }

  test("temporal types round-trip: date32, instant timestamp, wall-clock ntz") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("d", DateType), StructField("t", TimestampType),
      StructField("w", TimestampNTZType)))
    val rows = Seq(
      Row(1L, java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"),
        java.time.LocalDateTime.parse("2024-02-29T23:59:59.000001")),
      Row(2L, null, null, null),
      Row(3L, java.sql.Date.valueOf("1969-07-20"), // pre-epoch
        java.sql.Timestamp.valueOf("1969-07-20 20:17:40.0"),
        java.time.LocalDateTime.parse("1969-07-20T20:17:40")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_time").toFile
    dir.deleteOnExit()
    graft.sources.ArrowIpc.write(df, dir.getAbsolutePath)
    val back = ArrowIpc.read(spark, dir.getAbsolutePath)
    assert(back.schema.map(_.dataType.simpleString) ==
      Seq("bigint", "date", "timestamp", "timestamp_ntz"))
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
  }

  test("a directory read aligns files by column name and widens int to long") {
    import spark.implicits._
    // b.arrow lists its columns in the other order and stores `a` as int:
    // each file's rows must land under their own names, not a.arrow's order
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_names").toFile
    dir.deleteOnExit()
    def put(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_arrow_part").toFile
      tmp.deleteOnExit()
      ArrowIpc.write(df.coalesce(1), tmp.getAbsolutePath)
      java.nio.file.Files.copy(new File(tmp, "part-00000.arrow").toPath,
        new File(dir, name).toPath)
    }
    put(Seq((1L, "x"), (2L, "y")).toDF("a", "b"), "a.arrow")
    put(Seq(("z", 3)).toDF("b", "a"), "b.arrow")
    val back = ArrowIpc.read(spark, dir.getAbsolutePath)
    assert(back.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("a", "bigint"), ("b", "string")))
    assert(back.orderBy("a").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y"), (3L, "z")))
  }

  test("write rejects unsupported column types on the driver") {
    import spark.implicits._
    val df = Seq((1L, Seq(1, 2))).toDF("id", "arr")
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_bad").toFile
    dir.deleteOnExit()
    intercept[UnsupportedOperationException] {
      graft.sources.ArrowIpc.write(df, dir.getAbsolutePath)
    }
  }
}
