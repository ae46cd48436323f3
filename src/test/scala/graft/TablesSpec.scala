package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The per-path schema memo in [[Tables.table]]: a warm load runs no
  * Spark job, and every load still returns what a plain
  * `spark.read.parquet` returns — after a rewrite and under other
  * schema-conversion confs too. */
class TablesSpec extends GraftSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("a warm load runs no Spark job") {
    Tables.documents(spark, SF)
    assert(jobsOf(Tables.documents(spark, SF)) == 0)
    assert(jobsOf(Tables.documents(spark, SF).schema) == 0)
  }

  test("every table loads with the schema plain spark.read.parquet infers") {
    Tables.all.foreach { name =>
      Tables.table(spark, SF, name)
      val warm = Tables.table(spark, SF, name)
      assert(warm.schema == spark.read.parquet(s"$SF/$name.parquet").schema, name)
    }
  }

  test("each load is a fresh relation: a self-join keeps distinct attributes") {
    val a = Tables.region(spark, SF)
    val b = Tables.region(spark, SF)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    assert(a.join(b, a("r_regionkey") === b("r_regionkey")).count() == a.count())
  }

  test("a rewritten table shows its new column on the next load") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Seq((2L, "b", 3.0)).toDF("id", "s", "x")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.table(spark, dir, "t")
    assert(after.columns.toSeq == Seq("id", "s", "x"))
    assert(after.collect().map(_.getDouble(2)).toSeq == Seq(3.0))
  }

  /** Runs `f` under each value of `key` in turn; restores the conf. */
  private def underEach(key: String, values: Seq[String])(f: String => Unit): Unit = {
    val before = spark.conf.getOption(key)
    try values.foreach { v => spark.conf.set(key, v); f(v) }
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def tsType(df: => org.apache.spark.sql.DataFrame) =
    scala.util.Try(df.schema("ts").dataType).toEither.left.map(_.getClass)

  test("a TIMESTAMP(NANOS) ts follows nanosAsLong on every load") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // Spark's writers never emit NANOS: write the events file directly
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1000L))
    finally w.close()
    underEach(NanosAsLong, Seq("false", "true", "false", "true")) { v =>
      val memo = tsType(Tables.table(spark, dir, "events"))
      assert(memo == tsType(spark.read.parquet(s"$dir/events.parquet")), v)
      // without the conf Spark refuses the type outright
      assert(memo == (if (v == "true") Right(LongType) else Left(classOf[AnalysisException])), v)
    }
  }

  test("events.ts follows inferTimestampNTZ on every load") {
    underEach("spark.sql.parquet.inferTimestampNTZ.enabled",
        Seq("true", "false", "true")) { v =>
      val memo = tsType(Tables.events(spark, SF))
      assert(memo == tsType(spark.read.parquet(s"$SF/events.parquet")), v)
      assert(memo == Right(if (v == "true") TimestampNTZType else TimestampType), v)
    }
  }

  test("loading events leaves the caller's session confs as they were") {
    val other = spark.newSession()
    other.conf.set(NanosAsLong, "false")
    val events = graft.operators.Events.withTs(Tables.events(other, SF))
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.count() > 0)
    assert(other.conf.get(NanosAsLong) == "false")
  }

  test("a missing table still fails with PATH_NOT_FOUND") {
    val e = intercept[AnalysisException](Tables.table(spark, SF, "no_such_table"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }
}
