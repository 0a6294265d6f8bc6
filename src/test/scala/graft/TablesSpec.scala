package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}

/** The [[Tables]] schema catalog: a supplied-schema read equals the
  * inferred read, a repeated table build fires no job, and a rewrite or
  * a schema-affecting conf flip is picked up without growing the map.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf("")
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def scratch(): String = Files.createTempDirectory("graft_tables").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("catalog schema equals the inferred schema for every table; rows equal") {
    names.foreach { t =>
      val p = s"$dir/$t.parquet"
      assert(Tables.read(spark, p).schema == spark.read.parquet(p).schema, t)
    }
    assert(rows(Tables(spark, dir).orders) ==
      rows(spark.read.parquet(s"$dir/orders.parquet")))
  }

  test("a second build of Tables(s, d).orders fires no Spark job") {
    Tables(spark, dir).orders
    assert(jobsOf(Tables(spark, dir).orders) == 0)
  }

  test("a same-path rewrite with a different schema is picked up") {
    val p = s"${scratch()}/t.parquet"
    Seq(1, 2).toDF("a").write.parquet(p)
    assert(Tables.read(spark, p).columns.toSeq == Seq("a"))
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("a", "b")
      .write.mode("overwrite").parquet(p)
    val after = Tables.read(spark, p)
    assert(after.columns.toSeq == Seq("a", "b"))
    assert(rows(after) == Seq("[1,x]", "[2,y]", "[3,z]"))
  }

  test("flipping binaryAsString over a BinaryType column re-infers") {
    // written without Spark's schema metadata, which would override the
    // footer types binaryAsString applies to (the non-Spark-writer case)
    val p = s"${scratch()}/bin.parquet"
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new HPath(s"$p/part-0.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
    assert(Tables.read(spark, p).schema("b").dataType == BinaryType)
    val flipped = spark.newSession()
    flipped.conf.set("spark.sql.parquet.binaryAsString", "true")
    val asString = Tables.read(flipped, p)
    assert(asString.schema("b").dataType == StringType)
    assert(asString.head().getString(0) == "hi")
    assert(Tables.read(spark, p).schema("b").dataType == BinaryType)
  }

  test("the catalog keeps one entry per path across versions and confs") {
    val d = scratch()
    val p = s"$d/t.parquet"
    def entries = Tables.cachedPaths.count(_.startsWith(d))
    Seq(1).toDF("a").write.parquet(p)
    Tables.read(spark, p)
    Seq("x").toDF("b").write.mode("overwrite").parquet(p)
    Tables.read(spark, p)
    val flipped = spark.newSession()
    flipped.conf.set("spark.sql.parquet.binaryAsString", "true")
    Tables.read(flipped, p)
    assert(entries == 1)
    assert(Tables.read(spark, p).columns.toSeq == Seq("b"))
    assert(entries == 1)
  }

  test("read.parquet( appears in src/main only inside Tables.scala") {
    // a reader chain ending in .parquet(: read.parquet( and
    // read.schema(s).parquet( / read.option(k, v).parquet( alike
    val reader = """read(\.\w+\([^)]*\))*\.parquet\(""".r
    val readers = mainSources.collect {
      case (f, code) if reader.findFirstIn(code).isDefined => f
    }
    assert(readers == Seq("Tables.scala"), s"parquet readers outside Tables: $readers")
  }
}
