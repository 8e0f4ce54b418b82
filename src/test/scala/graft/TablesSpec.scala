package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.read`, the memoizing parquet reader: the frames it opens are the
  * ones `spark.read.parquet` opens, a changed file or a changed
  * schema-relevant conf infers again, and an unchanged table opens without
  * a Spark job. */
class TablesSpec extends SparkSpec {

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("every table but events reads with the schema and rows of " +
      "spark.read.parquet") {
    Tables.all.filterNot(_ == "events").foreach { name =>
      val path = s"$sf01/$name.parquet"
      val got = Tables.read(spark, path)
      val want = spark.read.parquet(path)
      // StructType equality covers names, types and nullability
      assert(got.schema == want.schema, s"$name: ${got.schema} vs ${want.schema}")
      assert(sameRows(got, want), s"$name: rows differ")
    }
  }

  test("a second read of an unchanged table starts no Spark job") {
    val path = s"$sf01/orders.parquet"
    Tables.read(spark, path)
    val (df, jobs) = jobsDuring(Tables.read(spark, path))
    assert(jobs == 0, s"reading an unchanged table ran $jobs Spark jobs")
    assert(df.schema == spark.read.parquet(path).schema)
  }

  test("rewriting a path with another schema infers the new one") {
    import spark.implicits._
    val path = "target/tables_read_rewrite"
    Seq(1, 2, 3).toDF("a").write.mode("overwrite").parquet(path)
    assert(Tables.read(spark, path).schema == spark.read.parquet(path).schema)
    Seq(("x", 7L)).toDF("b", "c").write.mode("overwrite").parquet(path)
    val got = Tables.read(spark, path)
    assert(got.schema == spark.read.parquet(path).schema)
    assert(got.columns.toSeq == Seq("b", "c"))
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 7L)))
  }

  test("flipping spark.sql.parquet.binaryAsString infers again") {
    // written with parquet-mr's example writer: a file Spark writes carries
    // its own schema in the footer, which wins over binaryAsString
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val path = "target/tables_read_binary"
    graft.sources.Fs.of(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)
    val file = new org.apache.hadoop.fs.Path(path, "part-0.parquet")
    val schema = MessageTypeParser.parseMessageType("message m { required binary x; }")
    val w = ExampleParquetWriter.builder(file).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("x", "hi"))
    finally w.close()
    def readType(asString: Boolean) = withSession { s =>
      s.conf.set("spark.sql.parquet.binaryAsString", asString.toString)
      Tables.read(s, path).schema("x").dataType
    }
    assert(readType(asString = false) == BinaryType)
    assert(readType(asString = true) == StringType)
    assert(readType(asString = false) == BinaryType)
  }
}
