package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType,
  TimestampNTZType, TimestampType}
import graft.sources.Tables

/** `Tables.load` hands the parquet reader a schema read from one footer
  * on the driver: it must be the schema `spark.read.parquet` infers (and
  * so read the same rows), follow the session's parquet conf, and launch
  * no Spark job. Planning a relational row therefore launches none. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Row count and an order-free digest of every row. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** `Tables.load(dir, name)` against the inferring read of the same path. */
  private def assertLoadsLikeInference(dir: String, name: String): DataFrame = {
    var loaded: DataFrame = null
    val jobs = jobsDuring { loaded = Tables.load(spark, dir, name) }
    assert(jobs == 0, s"$dir/$name: loading launched $jobs Spark jobs")
    val inferred = spark.read.parquet(s"$dir/$name.parquet")
    assert(loaded.schema == inferred.schema, s"$dir/$name")
    assert(digest(loaded) == digest(inferred), s"$dir/$name")
    loaded
  }

  Seq("sfTiny" -> sfTiny, "sfSmall" -> sfSmall).foreach { case (label, sf) =>
    test(s"every $label table loads with the inferred schema and rows, launching no job") {
      Tables.all.foreach(assertLoadsLikeInference(sf, _))
    }
  }

  test("Spark-written INT96, TIMESTAMP_MICROS and TIMESTAMP_NTZ columns in a directory of part files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val rows = (1 to 30).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-03-01 10:$i%02d:00.123456"),
        java.time.LocalDateTime.parse(f"2024-03-01T11:$i%02d:00.654321"))
    }.toDF("id", "ts", "ntz")
    Seq("INT96", "TIMESTAMP_MICROS").foreach { flavor =>
      withConf("spark.sql.parquet.outputTimestampType", flavor) {
        rows.repartition(3).write.parquet(s"$dir/$flavor.parquet")
      }
      val parts = new java.io.File(s"$dir/$flavor.parquet").list()
        .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts == 3, s"$flavor: expected a directory of 3 part files, got $parts")
      val df = assertLoadsLikeInference(dir, flavor)
      assert(df.schema.map(_.dataType) == Seq(LongType, TimestampType, TimestampNTZType))
    }
  }

  /** A parquet file written without Spark, so no Spark schema rides in its
    * footer and the reader's conversion of the parquet types decides. */
  private def writeRaw(file: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message raw {
        |  required int64 id;
        |  required binary b;
        |  required int96 t96;
        |  required int64 ntz (TIMESTAMP(MICROS,false));
        |}""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(new Configuration()).build()
    try (1 to 20).foreach { i =>
      w.write(groups.newGroup().append("id", i.toLong).append("b", s"v$i")
        .append("t96", new NanoTime(2460000 + i, 1000L * i))
        .append("ntz", 1700000000000000L + i))
    } finally w.close()
  }

  test("a footer without a Spark schema converts by the session's parquet conf") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-raw").toString
    writeRaw(s"$dir/raw.parquet")
    val plain = assertLoadsLikeInference(dir, "raw")
    assert(plain.schema.map(_.dataType) ==
      Seq(LongType, BinaryType, TimestampType, TimestampNTZType))
    withConf("spark.sql.parquet.binaryAsString", "true") {
      val asString = assertLoadsLikeInference(dir, "raw")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.orderBy("id").select("b").as[String].head() == "v1")
    }
    assert(Tables.load(spark, dir, "raw").schema("b").dataType == BinaryType,
      "once binaryAsString is unset, the footer schema reads b as binary again")
  }

  test("building the relational rows plans with no Spark job") {
    val jobs = Seq("q1_distinct", "q4_multi_agg", "q6_multi_join", "q8_topk_per_group",
      "q21_rank_lag_lead", "q40_scalar_subquery").map { q =>
      val build = SparkEntry.queries(q)
      q -> jobsDuring(build(spark, sfTiny))
    }
    assert(jobs.forall(_._2 == 0), s"Spark jobs launched while planning: $jobs")
  }
}
