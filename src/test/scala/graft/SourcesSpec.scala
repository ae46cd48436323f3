package graft

import java.nio.file.Files
import graft.sources.Sources
import graft.Tables

/** Round-trip + partition-pruning specs for sources/sinks (§2d). */
class SourcesSpec extends GraftSpec {

  private def tmp(tag: String) =
    Files.createTempDirectory(s"graft-$tag").toString + "/out"

  test("s02 partitioned parquet round-trips and prunes partitions on read") {
    val orders = Tables.orders(spark, SF)
    val path = tmp("part")
    Sources.writePartitionedParquet(orders, path, Seq("o_orderstatus"))
    val back = Sources.readParquet(spark, path)
    assert(back.count() == orders.count())

    val pruned = back.filter(back("o_orderstatus") === "O")
    val plan = formattedPlan(pruned)
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan)
    assert(pruned.count() ==
      orders.filter(orders("o_orderstatus") === "O").count())
  }

  test("s04 bucketed tables join without a shuffle") {
    val orders = Tables.orders(spark, SF)
    val lineitem = Tables.lineitem(spark, SF)
    Sources.writeBucketed(orders.select("o_orderkey", "o_totalprice"),
      "graft_orders_b", "o_orderkey", 4)
    Sources.writeBucketed(lineitem.select("l_orderkey", "l_quantity"),
      "graft_lineitem_b", "l_orderkey", 4)
    // force the sort-merge path so the assert proves bucket co-location,
    // not a broadcast
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_orders_b")
        .join(spark.table("graft_lineitem_b"),
          spark.table("graft_orders_b")("o_orderkey") ===
          spark.table("graft_lineitem_b")("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)   // co-located: no shuffle
      assert(joined.count() == lineitem.count()) // every line has an order
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("s03 csv round-trips with schema") {
    val nation = Tables.nation(spark, SF)
    val path = tmp("csv")
    Sources.writeCsv(nation, path)
    val back = Sources.readCsv(spark, path, nation.schema)
    assert(back.schema == nation.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("s05 orc round-trips") {
    val nation = Tables.nation(spark, SF)
    val path = tmp("orc")
    Sources.writeOrc(nation, path)
    val back = Sources.readOrc(spark, path)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("s28 ORC parity vs parquet on documents: identical rows back") {
    val docs = Tables.documents(spark, SF)
    val path = tmp("orc-docs")
    Sources.writeOrc(docs, path)
    val back = Sources.readOrc(spark, path)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      docs.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
  }

  test("s28 ORC scan gets predicate pushdown and column projection") {
    val docs = Tables.documents(spark, SF)
    val path = tmp("orc-push")
    Sources.writeOrc(docs, path)
    val q = Sources.readOrc(spark, path)
      .filter(org.apache.spark.sql.functions.col("n_chars") > 200L)
      .select("doc_id", "n_chars")
    val plan = q.queryExecution.executedPlan.toString
    // the filter reaches the ORC reader (stripe/row-group skipping at
    // 100 TB) and the scan schema carries ONLY the projected columns —
    // a scan that still reads `text` for this query is wrong
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,200)"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"), plan)
    assert(q.count() == docs.filter(docs("n_chars") > 200L).count())
  }

  test("s28 partitioned ORC prunes partitions on read") {
    val docs = Tables.documents(spark, SF)
    val path = tmp("orc-part")
    Sources.writePartitionedOrc(docs, path, Seq("lang"))
    val back = Sources.readOrc(spark, path)
    val pruned = back.filter(back("lang") === "en")
    val plan = formattedPlan(pruned)
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    assert(pruned.count() == docs.filter(docs("lang") === "en").count())
  }

  test("s28 bucketed ORC tables join without a shuffle; append/compact keep the provider") {
    val docs = Tables.documents(spark, SF)
    Sources.writeBucketed(docs.select("doc_id", "lang"),
      "graft_s28_a", "doc_id", 4, format = "orc")
    Sources.writeBucketed(docs.select("doc_id", "n_chars"),
      "graft_s28_b", "doc_id", 4, format = "orc")
    def provider(t: String) = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .provider.map(_.toLowerCase)
    assert(provider("graft_s28_a").contains("orc"), provider("graft_s28_a"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_s28_a")
        .join(spark.table("graft_s28_b"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan) // co-located: no shuffle
      assert(joined.count() == docs.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // append + compact under the table's OWN provider: still ORC, and
    // compaction leaves one file per bucket
    val extra = docs.select(docs("doc_id") + 1000000L, docs("lang"))
      .toDF("doc_id", "lang")
    Sources.appendBucketed(extra, "graft_s28_a", "doc_id")
    Sources.compactBucketed(spark, "graft_s28_a")
    assert(provider("graft_s28_a").contains("orc"), provider("graft_s28_a"))
    assert(spark.table("graft_s28_a").count() == 2 * docs.count())
    spark.sql("DROP TABLE graft_s28_a"); spark.sql("DROP TABLE graft_s28_b")
    ()
  }

  test("compaction crash recovery: an orphaned sibling re-binds under the serving name") {
    val docs = Tables.documents(spark, SF).select("doc_id", "lang")
    Sources.writeBucketed(docs, "graft_rcv_t", "doc_id", 4)
    val n = spark.table("graft_rcv_t").count()
    // simulate the crash window between compactBucketed's two renames:
    // the rewrite is complete under `_compacting`, nothing is bound
    // under the serving name
    spark.sql("ALTER TABLE graft_rcv_t RENAME TO graft_rcv_t_compacting")
    assert(!spark.catalog.tableExists("graft_rcv_t"))
    // any entry point that takes the table name heals it first
    Sources.appendBucketed(
      docs.select(docs("doc_id") + 5000000L, docs("lang"))
        .toDF("doc_id", "lang"),
      "graft_rcv_t", "doc_id")
    assert(spark.catalog.tableExists("graft_rcv_t"))
    assert(!spark.catalog.tableExists("graft_rcv_t_compacting"))
    assert(spark.table("graft_rcv_t").count() == 2 * n)
    // the retired-copy window (rewrite lost, original renamed aside)
    spark.sql("ALTER TABLE graft_rcv_t RENAME TO graft_rcv_t_retired")
    Sources.recoverCompacting(spark, "graft_rcv_t")
    assert(spark.catalog.tableExists("graft_rcv_t"))
    assert(spark.table("graft_rcv_t").count() == 2 * n)
    // bound name: recovery is a no-op even with a stale sibling around
    Sources.writeBucketed(docs, "graft_rcv_t_compacting", "doc_id", 4)
    Sources.recoverCompacting(spark, "graft_rcv_t")
    assert(spark.table("graft_rcv_t").count() == 2 * n)
    spark.sql("DROP TABLE graft_rcv_t")
    spark.sql("DROP TABLE IF EXISTS graft_rcv_t_compacting")
    ()
  }

  test("s08 avro round-trips through a STORED AS AVRO metastore table, complex types included") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha", 1.5, Seq(0.1, 0.2), true),
      (2L, "beta", -2.5, Seq.empty[Double], false),
      (3L, null.asInstanceOf[String], 0.0, Seq(3.0), true))
      .toDF("id", "name", "score", "vec", "flag")
    Sources.writeAvroTable(df, "graft_s08_avro")
    val back = Sources.readAvroTable(spark, "graft_s08_avro")
    assert(back.columns.toSeq == df.columns.toSeq)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // and it really is avro on disk, not parquet: the SerDe is Avro's
    val serde = spark.sql("DESCRIBE FORMATTED graft_s08_avro").collect()
      .find(_.getString(0).trim.startsWith("Serde Library")).map(_.getString(1))
    assert(serde.exists(_.toLowerCase.contains("avro")), serde)
    spark.sql("DROP TABLE graft_s08_avro")
  }

  test("s30 partitioned avro: lossless round-trip, one directory per partition, avro serde") {
    val docs = Tables.documents(spark, SF)
    Sources.writePartitionedAvroTable(docs, "graft_s30_docs", Seq("lang"))
    val back = spark.table("graft_s30_docs")
    // partition columns land last in a Hive layout — compare on the
    // original column order and full values (multi-byte text included)
    assert(back.columns.toSet == docs.columns.toSet)
    assert(back.select(docs.columns.head, docs.columns.tail: _*)
      .orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
    val parts = spark.sql("SHOW PARTITIONS graft_s30_docs")
      .collect().map(_.getString(0)).sorted
    val langs = docs.select("lang").distinct().collect()
      .map(r => s"lang=${r.getString(0)}").sorted
    assert(parts.toSeq == langs.toSeq, parts.toSeq)
    val serde = spark.sql("DESCRIBE FORMATTED graft_s30_docs").collect()
      .find(_.getString(0).trim.startsWith("Serde Library")).map(_.getString(1))
    assert(serde.exists(_.toLowerCase.contains("avro")), serde)
  }

  test("s30 avro FILE route: catalog-free .avro container round-trip, nulls and bytes included") {
    import spark.implicits._
    val docs = Tables.documents(spark, SF)
    val path = tmp("avro-files")
    Sources.writeAvroFiles(docs, path)
    val back = Sources.readAvroFiles(spark, path, docs.schema)
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
    // the files are REAL Avro containers (magic "Obj"), not a
    // private serialization that happens to round-trip
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath).find(_.getName.endsWith(".avro"))
    assert(part.nonEmpty, "no .avro container files written")
    val in = fs.open(part.get)
    val magic = new Array[Byte](4); in.readFully(magic); in.close()
    assert(magic.toSeq == Seq[Byte]('O', 'b', 'j', 1), magic.toSeq)
    // nullable + binary columns survive (the Utf8/ByteBuffer seams)
    val mixed = Seq(
      (1L, Option("alpha"), Option(Array[Byte](1, 2, 3))),
      (2L, Option.empty[String], Option.empty[Array[Byte]]))
      .toDF("id", "name", "payload")
    val p2 = tmp("avro-mixed")
    Sources.writeAvroFiles(mixed, p2)
    val m2 = Sources.readAvroFiles(spark, p2, mixed.schema)
      .orderBy("id").collect()
    assert(m2(0).getString(1) == "alpha" &&
      m2(0).getAs[Array[Byte]](2).toSeq == Seq[Byte](1, 2, 3))
    assert(m2(1).isNullAt(1) && m2(1).isNullAt(2))
  }

  test("s30 avro FILE route: arrays, nested structs, and maps round-trip (embeddings shape)") {
    import spark.implicits._
    // the r18 gap: avroSchemaFor threw on complex types, so an
    // embeddings column couldn't ride the q213 path — now the schema
    // and both converters recurse
    val complex = Seq(
      (1L, Option(Seq(1.0, 2.5, -3.0)), Option(("en", 7L)),
        Option(Map("a" -> 1L, "b" -> 2L))),
      (2L, Option(Seq.empty[Double]), Option.empty[(String, Long)],
        Option.empty[Map[String, Long]]),
      (3L, Option.empty[Seq[Double]], Option(("de", 0L)),
        Option(Map.empty[String, Long])))
      .toDF("id", "emb", "meta", "counts")
    val p = tmp("avro-complex")
    Sources.writeAvroFiles(complex, p)
    val back = Sources.readAvroFiles(spark, p, complex.schema)
    assert(back.schema == complex.schema)
    val got = back.orderBy("id").collect()
    val want = complex.orderBy("id").collect()
    assert(got.toSeq == want.toSeq, got.toSeq)
    // the REAL embeddings table (vec_id, array<float>) rides the route
    val emb = Tables.embeddings(spark, SF)
    val pe = tmp("avro-emb")
    Sources.writeAvroFiles(emb, pe)
    val embBack = Sources.readAvroFiles(spark, pe, emb.schema)
    assert(embBack.orderBy("vec_id").collect().toSeq ==
      emb.orderBy("vec_id").collect().toSeq)
    // arrays WITH null elements survive the union(null, item) element
    val withNullElems = Seq(
      (1L, Seq(Option(1.0), Option.empty[Double], Option(2.0))))
      .toDF("id", "xs")
    val pn = tmp("avro-nullelem")
    Sources.writeAvroFiles(withNullElems, pn)
    val nb = Sources.readAvroFiles(spark, pn, withNullElems.schema)
      .collect()(0).getSeq[Any](1)
    assert(nb == Seq(1.0, null, 2.0), nb)
  }

  test("s30 partitioned avro prunes partitions at the metastore on read") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, SF)
    if (!spark.catalog.tableExists("graft_s30_docs"))
      Sources.writePartitionedAvroTable(docs, "graft_s30_docs", Seq("lang"))
    val pruned = spark.table("graft_s30_docs").filter(col("lang") === "en")
    // a Hive SerDe scan prunes by CATALOG partition, before any file
    // opens — the predicate must appear as the HiveTableScan's pruning
    // predicate, not a post-scan row filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("Scan hive"), plan)
    assert(plan.replaceAll("\\s", "").matches("(?s).*Scanhive.*lang.*=en.*"), plan)
    assert(pruned.count() == docs.filter(docs("lang") === "en").count())
    spark.sql("DROP TABLE graft_s30_docs")
  }

  test("m01 dynamic-partition overwrite replaces only the written partitions") {
    val nation = Tables.nation(spark, SF)
    val path = tmp("m01")
    Sources.insertOverwritePartitions(nation, path, Seq("n_regionkey"))
    // overwrite ONLY region 0 with doubled keys
    val patch = nation.filter(nation("n_regionkey") === 0)
      .withColumn("n_nationkey", nation("n_nationkey") + 1000)
    Sources.insertOverwritePartitions(patch, path, Seq("n_regionkey"))
    val back = Sources.readParquet(spark, path)
    assert(back.count() == nation.count())
    assert(back.filter(back("n_regionkey") === 0 && back("n_nationkey") < 1000).count() == 0)
    assert(back.filter(back("n_regionkey") =!= 0 && back("n_nationkey") >= 1000).count() == 0)
  }

  test("m02 upsert rewrites matched keys, appends new ones, leaves other partitions' files untouched") {
    val nation = Tables.nation(spark, SF)
    val path = tmp("m02")
    Sources.insertOverwritePartitions(nation, path, Seq("n_regionkey"))
    def files(region: Int) =
      new java.io.File(s"$path/n_regionkey=$region").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    val untouchedBefore = files(3)

    import spark.implicits._
    val updates = Seq(
      (0, "NATION_ZERO_V2", 0),   // existing key in region 0 → replaced
      (990, "NATION_NEW", 0))     // new key → appended
      .toDF("n_nationkey", "n_name", "n_regionkey")
    Sources.upsertPartitioned(spark, path, updates,
      keyCols = Seq("n_nationkey"), partitionCols = Seq("n_regionkey"),
      staging = tmp("m02-staging"))

    val back = Sources.readParquet(spark, path)
    assert(back.count() == nation.count() + 1)
    assert(back.filter(back("n_nationkey") === 0).select("n_name")
      .collect().map(_.getString(0)).toSeq == Seq("NATION_ZERO_V2"))
    assert(back.filter(back("n_nationkey") === 990).count() == 1)
    // partitions without matched keys: same files, same mtimes
    assert(files(3) == untouchedBefore)
  }

  test("s06 compaction collapses a many-small-files path, preserving rows") {
    val orders = Tables.orders(spark, SF)
    val path = tmp("s06")
    orders.repartition(40).write.parquet(path)
    def parquetFiles = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles == 40)
    val before = orders.count()
    val n = Sources.compact(spark, path, tmp("s06-staging"))
    assert(n == 1 && parquetFiles == 1, s"n=$n files=$parquetFiles")
    assert(spark.read.parquet(path).count() == before)
  }

  test("s07 mergeSchema read unions schema versions, null-filling old files") {
    import spark.implicits._
    val path = tmp("s07")
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$path/load=1")
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2").write.parquet(s"$path/load=2")
    val back = Sources.readParquetMergedSchema(spark, path)
    assert(back.columns.toSet == Set("id", "v1", "v2", "load"))
    val r1 = back.filter($"id" === 1L).collect().head
    assert(r1.isNullAt(r1.fieldIndex("v2")))
    assert(back.count() == 2)
  }

  test("m02 upsert that moves a key to a new partition leaves no stale duplicate") {
    import spark.implicits._
    val path = tmp("m02-move")
    // region 9 holds ONLY key 990 — moving it must delete the emptied dir
    val seed = Seq((0, "KEEP_ME", 0), (1, "ALSO_KEEP", 0), (990, "LONER", 9))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    Sources.insertOverwritePartitions(seed, path, Seq("n_regionkey"))
    val updates = Seq((990, "MOVED", 2)).toDF("n_nationkey", "n_name", "n_regionkey")
    Sources.upsertPartitioned(spark, path, updates,
      keyCols = Seq("n_nationkey"), partitionCols = Seq("n_regionkey"),
      staging = tmp("m02-move-staging"))
    val back = Sources.readParquet(spark, path)
    val k990 = back.filter(back("n_nationkey") === 990).collect()
    assert(k990.length == 1, k990.toSeq)                    // no stale duplicate
    assert(k990.head.getAs[Int]("n_regionkey") == 2)
    assert(!new java.io.File(s"$path/n_regionkey=9").exists()) // emptied dir gone
    assert(back.count() == 3)
  }

  test("m02 drains partitions whose values need hive path escaping") {
    import spark.implicits._
    val path = tmp("m02-esc")
    // "a b:c" partition dir is written hive-escaped (%20, %3A)
    val seed = Seq((1, "KEEP", "plain"), (2, "MOVE_ME", "a b:c"))
      .toDF("id", "name", "part")
    Sources.insertOverwritePartitions(seed, path, Seq("part"))
    val updates = Seq((2, "MOVED", "plain")).toDF("id", "name", "part")
    Sources.upsertPartitioned(spark, path, updates,
      keyCols = Seq("id"), partitionCols = Seq("part"),
      staging = tmp("m02-esc-staging"))
    val back = Sources.readParquet(spark, path)
    assert(back.count() == 2)
    assert(back.filter(back("id") === 2).collect().map(_.getAs[String]("part")).toSeq
      == Seq("plain"))
    // the escaped dir of the drained partition is gone
    assert(!new java.io.File(path).listFiles().exists(_.getName.startsWith("part=a")))
  }

  test("m02 a failed upsert releases its affected-partition cache") {
    import org.apache.spark.sql.functions.{lit, raise_error}
    val path = tmp("m02-fail")
    Sources.insertOverwritePartitions(Tables.nation(spark, SF), path,
      Seq("n_regionkey"))
    // the payload column fails only while the merged rows are staged,
    // after the affected-partition frame has been materialized (a range,
    // not a local relation, so the optimizer cannot fold the error in)
    val updates = spark.range(1).select(lit(0).as("n_nationkey"),
      raise_error(lit("payload failure")).cast("string").as("n_name"),
      lit(0).as("n_regionkey"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val err = intercept[Exception] {
      Sources.upsertPartitioned(spark, path, updates,
        keyCols = Seq("n_nationkey"), partitionCols = Seq("n_regionkey"),
        staging = tmp("m02-fail-staging"))
    }
    assert(err.toString.contains("payload failure") ||
      Option(err.getCause).exists(_.toString.contains("payload failure")), err)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed upsert left persisted RDDs behind: $leaked")
  }

  test("s06 partitioned compaction preserves layout; flat compaction refuses partition dirs") {
    val nation = Tables.nation(spark, SF)
    val path = tmp("s06-part")
    nation.repartition(10).write.partitionBy("n_regionkey").parquet(path)
    val err = intercept[IllegalArgumentException] {
      Sources.compact(spark, path, tmp("s06-part-stage1"))
    }
    assert(err.getMessage.contains("partitionCols"), err.getMessage)
    Sources.compact(spark, path, tmp("s06-part-stage2"),
      partitionCols = Seq("n_regionkey"))
    // layout survived: partition dirs still present, rows intact, pruning works
    assert(new java.io.File(s"$path/n_regionkey=0").exists())
    val back = Sources.readParquet(spark, path)
    assert(back.count() == nation.count())
    assert(formattedPlan(back.filter(back("n_regionkey") === 1))
      .contains("PartitionFilters"))
  }

  test("s09 z-order layout: secondary-column predicates can prune files a 1-D sort cannot") {
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, "/root/testdata/sf0.01")
    val zPath = tmp("s09-z"); val linPath = tmp("s09-lin")
    Sources.writeZOrdered(orders, zPath, "o_orderkey", "o_custkey", 16)
    // the 1-D baseline: same file count, clustered on o_orderkey only
    orders.repartitionByRange(16, orders("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(linPath)
    assert(spark.read.parquet(zPath).count() == orders.count())
    def custkeyRanges(path: String): Array[(Double, Double)] =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("o_custkey")).cast("double").as("lo"),
          max(col("o_custkey")).cast("double").as("hi"))
        .collect().map(r => (r.getAs[Double]("lo"), r.getAs[Double]("hi")))
    val Array(cmin, cmax) = orders
      .agg(min(col("o_custkey")).cast("double"), max(col("o_custkey")).cast("double"))
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    // a 5% o_custkey band: the min/max footer check a scan's file
    // skipping performs — how many files could contain it?
    val lo = cmin + (cmax - cmin) * 0.40
    val hi = cmin + (cmax - cmin) * 0.45
    def touched(rs: Array[(Double, Double)]): Int =
      rs.count { case (flo, fhi) => flo <= hi && fhi >= lo }
    val linT = touched(custkeyRanges(linPath))
    val zT = touched(custkeyRanges(zPath))
    // orderkey-sorted files each span ~the full custkey range → no skip;
    // z-ordered files cluster custkey too → most files skipped. The z
    // boundaries come from range-partition SAMPLING, so the exact
    // touched count wobbles ±1 with the input's partition layout —
    // assert a loose absolute cap plus the strict skip advantage
    assert(linT >= 14, s"lin layout touched $linT of 16")
    assert(zT <= 10, s"z layout touched $zT of 16")
    assert(zT < linT)
  }

  test("s03 json round-trips with schema") {
    val region = Tables.region(spark, SF)
    val path = tmp("json")
    Sources.writeJson(region, path)
    val back = Sources.readJson(spark, path, region.schema)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      region.orderBy("r_regionkey").collect().toSeq)
  }

  test("s10 training shards: one file per shard, q88-deterministic membership") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"payload $i")).toDF("doc_id", "text")
    val path = tmp("shards")
    val shards = 4
    Sources.writeTrainingShards(docs, path, shards)
    // exactly one data file in every shard directory
    (0 until shards).foreach { s =>
      val dir = new java.io.File(s"$path/shard=$s")
      assert(dir.isDirectory, s"missing dir for shard $s")
      val files = dir.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $s has ${files.length} files")
    }
    // round-trip: everything lands, and membership matches q88's assignment
    val back = spark.read.parquet(path)
    assert(back.count() == 40L)
    val wrote = back.select("doc_id", "shard").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Number]("shard").longValue()).toMap
    val expected = graft.operators.TextAnalysis.q88(docs, shards).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard")).toMap
    assert(wrote == expected)
  }

  test("s20 JDBC round-trips via embedded Derby, pushes filters, reads range-partitioned") {
    // embedded Derby rides the unmanaged Spark classpath — the same
    // DataSource V1 JDBC path a Postgres/MySQL deployment uses
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val url = s"jdbc:derby:${tmp("jdbc")};create=true"
    val nation = Tables.nation(spark, SF)
      .select("n_nationkey", "n_name", "n_regionkey")
    Sources.writeJdbc(nation, url, "nation_jdbc", driver)

    val back = Sources.readJdbc(spark, url, "nation_jdbc", driver)
    assert(back.count() == nation.count())
    assert(back.collect().map(_.toSeq).toSet ==
      nation.collect().map(_.toSeq).toSet)

    // predicate pushdown reaches the remote SQL, not a post-scan filter
    val sel = back.filter(back("n_regionkey") === 0L).select("n_name")
    val plan = formattedPlan(sel)
    assert(plan.contains("PushedFilters:") &&
      plan.contains("n_regionkey"), plan)
    assert(sel.count() ==
      nation.filter(nation("n_regionkey") === 0L).count())

    // range-partitioned read: 4 slices, same rows, 4 scan partitions
    val part = Sources.readJdbc(spark, url, "nation_jdbc", driver,
      "n_nationkey", lowerBound = 0L, upperBound = 24L, numPartitions = 4)
    assert(part.rdd.getNumPartitions == 4, part.rdd.getNumPartitions)
    assert(part.collect().map(_.toSeq).toSet ==
      nation.collect().map(_.toSeq).toSet)

    // append lands incrementally (the warehouse incremental-load mode)
    Sources.writeJdbc(nation.limit(3), url, "nation_jdbc", driver,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(Sources.readJdbc(spark, url, "nation_jdbc", driver).count() ==
      nation.count() + 3)
  }

  test("s24 text-line ingest: per-file deterministic line numbers; wholetext one doc per file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-txt")
    java.nio.file.Files.writeString(dir.resolve("a.txt"), "l1\nl2\nl3\n")
    java.nio.file.Files.writeString(dir.resolve("b.txt"), "only\n")
    val lines = Sources.readTextLines(spark, dir.toString).collect()
      .map(r => (new java.io.File(r.getAs[String]("file")).getName,
        r.getAs[Long]("line"), r.getAs[String]("text"))).toSet
    assert(lines == Set(("a.txt", 1L, "l1"), ("a.txt", 2L, "l2"),
      ("a.txt", 3L, "l3"), ("b.txt", 1L, "only")), lines)
    // re-read gives the same numbering (deterministic, not physical)
    val again = Sources.readTextLines(spark, dir.toString).collect()
      .map(r => (new java.io.File(r.getAs[String]("file")).getName,
        r.getAs[Long]("line"), r.getAs[String]("text"))).toSet
    assert(again == lines)
    val whole = Sources.readTextLines(spark, dir.toString, wholetext = true)
      .collect().map(r => new java.io.File(r.getAs[String]("file")).getName ->
        r.getAs[String]("text")).toMap
    assert(whole("a.txt") == "l1\nl2\nl3\n" && whole("b.txt") == "only\n", whole)
  }

  test("s24 text-line numbering survives one file splitting into many partitions") {
    // force many splits of one file: line numbering must follow byte
    // offsets (_metadata.file_block_start), not FilePartition packing order
    val dir = java.nio.file.Files.createTempDirectory("graft-txt-split")
    val n = 5000
    java.nio.file.Files.writeString(dir.resolve("big.txt"),
      (1 to n).map(i => f"line$i%05d").mkString("", "\n", "\n"))
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      // the raw scan must actually split (post-window AQE coalesces,
      // so measure the file source itself, not the numbered frame)
      val scanParts = spark.read.text(dir.toString).rdd.getNumPartitions
      assert(scanParts > 4, s"file did not split: $scanParts partition(s)")
      val got = Sources.readTextLines(spark, dir.toString).collect()
        .map(r => r.getAs[Long]("line") -> r.getAs[String]("text"))
        .sortBy(_._1)
      assert(got.length == n)
      assert(got.zipWithIndex.forall { case ((ln, tx), i) =>
        ln == i + 1 && tx == f"line${i + 1}%05d" }, got.take(20).toSeq)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("s25 binaryFile ingest: bytes round-trip, glob prunes, maxLength guards") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bin")
    val payload = Array.tabulate[Byte](256)(i => i.toByte)
    java.nio.file.Files.write(dir.resolve("x.bin"), payload)
    java.nio.file.Files.write(dir.resolve("big.bin"), new Array[Byte](4096))
    java.nio.file.Files.writeString(dir.resolve("skip.txt"), "not media")
    val rows = Sources.readBinaryFiles(spark, dir.toString,
      glob = "*.bin", maxLength = 1024L).collect()
    assert(rows.length == 1, rows.toSeq.map(_.getAs[String]("path")))
    assert(rows(0).getAs[Long]("length") == 256L)
    assert(rows(0).getAs[Array[Byte]]("content").toSeq == payload.toSeq)
  }
}
