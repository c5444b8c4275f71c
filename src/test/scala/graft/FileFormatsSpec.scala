package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet: CSV, JSON lines, and ORC
  * round-trips with EXPLICIT schemas (inference on a 100 TB feed would
  * scan twice — every read below declares its schema, the engine rule).
  */
class FileFormatsSpec extends SparkSpec {

  private def sample(): DataFrame =
    spark.read.parquet(s"${Recount.dir}/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber").limit(100)

  private def assertRoundTrip(written: DataFrame, read: DataFrame): Unit = {
    val a = written.orderBy("l_orderkey", "l_linenumber").collect()
    val b = read.orderBy("l_orderkey", "l_linenumber").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("CSV round-trip with declared schema, header, and timestamps") {
    val dir = Files.createTempDirectory("graft-fmt").toString + "/csv"
    val df = sample()
    df.write.option("header", "true")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS")
      .csv(dir)
    val back = spark.read.schema(df.schema)
      .option("header", "true")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS")
      .csv(dir)
    assertRoundTrip(df, back)
  }

  test("JSON-lines round-trip with declared schema") {
    val dir = Files.createTempDirectory("graft-fmt").toString + "/json"
    val df = sample()
    df.write.json(dir)
    val back = spark.read.schema(df.schema).json(dir)
    assertRoundTrip(df, back)
  }

  test("ORC round-trip (columnar alternative to parquet)") {
    val dir = Files.createTempDirectory("graft-fmt").toString + "/orc"
    val df = sample()
    df.write.orc(dir)
    val back = spark.read.schema(df.schema).orc(dir)
    assertRoundTrip(df, back)
  }

  test("malformed CSV rows are isolated, not fatal (PERMISSIVE + corrupt column)") {
    val dir = Files.createTempDirectory("graft-fmt").toString + "/bad"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(dir, "part.csv"),
      "1,2,3.5\nnot,a,number\n4,5,6.5\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_corrupt", org.apache.spark.sql.types.StringType)))
    // Spark requires materializing before querying only-corrupt columns
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir).cache()
    val rows = df.collect()
    assert(rows.length === 3)
    assert(df.where(col("_corrupt").isNotNull).count() === 1)
    assert(df.where(col("_corrupt").isNull).count() === 2)
  }
}
