package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Sources & sinks (SURVEY.md §2d).
  *
  * Scale notes: partitioned parquet is the lake layout at 100 TB —
  * `partitionBy` on a low-cardinality column gives partition pruning on
  * read (Catalyst turns `WHERE part = x` into a directory prune, no
  * scan). Writers repartition by the partition columns first so each
  * task writes one file per directory instead of `tasks × partitions`
  * small files — the classic small-files failure at scale.
  */
object Sources {

  /** Partitioned parquet write: one file per partition directory. */
  def writePartitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String],
                              mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(partitionCols.map(df.col): _*)
      .write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** CSV writer with header; round-trips with [[readCsv]] given the
    * original schema (CSV is schemaless — the reader must supply it;
    * timestamps serialize as ISO-8601 with µs precision). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .schema(schema)
      .csv(path)

  /** Bucketed managed-table write: rows hash into `buckets` files by
    * `bucketCol`. Two tables bucketed the same way join WITHOUT a
    * shuffle (Exchange-free sort-merge join) — the co-located-join
    * layout for repeated fact⋈fact joins at 100 TB, where the one-time
    * write-side shuffle is amortized over every downstream join. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, format: String = "parquet"): Unit = {
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format(format).saveAsTable(table)
    autogatherStats(df.sparkSession, table)
  }

  /** Hive's `hive.stats.autogather` as a lake-write discipline
    * (ddl11 follow-through): CBO is only as good as the stats someone
    * remembered to gather, so every catalog-table write gathers them
    * at commit time instead of trusting a manual ANALYZE cadence.
    *   - `spark.graft.stats.autogather` (default true): table-level
    *     rowCount + size. Metadata-priced on columnar formats — the
    *     count(*) job reads parquet/ORC footers, not data.
    *   - `spark.graft.stats.autogather.columns` (default off): "all"
    *     for every column, or a comma list — ndv/min/max histogram
    *     inputs, a REAL scan, so opt-in (at 100 TB gather columns on
    *     the join-key tables, not every index artifact).
    * Path-based lake writes (partitioned parquet/ORC, SnapshotTable)
    * carry no catalog entry to attach stats to — their reads already
    * estimate from live file sizes, which a stale stats row would only
    * fight (Spark prefers catalog stats when present). */
  private[graft] def autogatherStats(spark: SparkSession, table: String): Unit =
    if (spark.conf.getOption("spark.graft.stats.autogather")
        .forall(_.toBoolean)) {
      if (deferFlag.get()) { recordDeferred(spark, table); () }
      else gatherNow(spark, table)
    }

  private def gatherNow(spark: SparkSession, table: String): Unit = {
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    spark.conf.getOption("spark.graft.stats.autogather.columns")
      .map(_.trim).filter(_.nonEmpty).foreach { cols =>
        if (cols.equalsIgnoreCase("all"))
          spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR ALL COLUMNS")
        else
          spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS $cols")
      }
    ()
  }

  // ---- autogather DEBOUNCE (r17 review: st36's per-micro-batch label
  // maintenance appends through the autogather path, adding one
  // ANALYZE job per micro-batch forever — table-level stats are
  // footer-priced but the JOB isn't free at a 1 s trigger cadence).
  // Inside a deferringStats scope every autogather call RECORDS its
  // table instead of analyzing; flushDeferredStats gathers each
  // recorded table once. The streaming lanes wrap each foreachBatch
  // body and flush on query termination (Streams.onTerminated).
  // While deferred, the write itself invalidates the catalog rowCount
  // (Spark drops stats on insert rather than let them go stale), so
  // for the stream's lifetime reads estimate from live file sizes —
  // the ordinary stats-absent path — and the close-time flush makes
  // them current again; CBO never plans from a moving micro-batch
  // anyway. The flag is a ThreadLocal: a foreachBatch body runs
  // synchronously on one thread, and concurrent BATCH writers on
  // other threads keep eager gathering.
  private val deferFlag = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = java.lang.Boolean.FALSE
  }
  // JVM-global on purpose: foreachBatch bodies run under a CLONED
  // streaming session, so a session-keyed map would record under the
  // clone and flush under the original, never meeting. Table names
  // resolve in the shared external catalog, so draining from any
  // session of the JVM is sound (worst case an unrelated stream's
  // tables get their gather a moment early).
  private val pendingStats =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def recordDeferred(spark: SparkSession, table: String): Unit = {
    pendingStats.add(table)
    ()
  }

  /** Run `body` with autogather deferred on this thread: catalog
    * writes inside record their tables for a later
    * [[flushDeferredStats]] instead of paying an ANALYZE job each. */
  def deferringStats[T](spark: SparkSession)(body: => T): T = {
    val prev = deferFlag.get()
    deferFlag.set(java.lang.Boolean.TRUE)
    try body finally deferFlag.set(prev)
  }

  /** Gather stats ONCE for every table recorded under a deferringStats
    * scope in this session (tables dropped since are skipped). */
  def flushDeferredStats(spark: SparkSession): Unit = {
    val it = pendingStats.iterator()
    while (it.hasNext) {
      val t = it.next(); it.remove()
      if (spark.catalog.tableExists(t)) gatherNow(spark, t)
    }
  }

  /** Compact a BUCKETED table back to one file per bucket — the s06
    * small-files maintenance applied to the persisted indexes
    * (s12/s13/s14 appends each add one file per touched bucket; after
    * N ingest cycles a probe reads N files where one would do). The
    * rewrite goes to a sibling table then swaps via catalog RENAME, so
    * the data is never read and overwritten in one plan and a crash
    * leaves either the old or the new table intact. Clustering the
    * rewrite on the bucket column lets the planner's bucketed-write
    * exchange land each bucket in one task → one file per bucket.
    * Bucket count, columns, and sort spec are read from the table's
    * own metadata — compaction cannot change the layout contract. */
  def compactBucketed(spark: SparkSession, table: String): Unit = {
    recoverCompacting(spark, table)
    val (spec, format) = layoutOf(spark, table)
    val bucketCol = spec.bucketColumnNames.head
    val tmp = table + "_compacting"
    val retired = table + "_retired"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    spark.sql(s"DROP TABLE IF EXISTS $retired")
    spark.table(table)
      .repartition(col(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(spec.numBuckets, bucketCol).sortBy(bucketCol)
      .format(format).saveAsTable(tmp)
    // rename-ASIDE, not DROP-then-rename: the old table moves to
    // `_retired` before `_compacting` takes the name, so every crash
    // point leaves a COMPLETE copy recoverable by name — and
    // [[recoverCompacting]] auto-heals the one window where the
    // serving name is briefly unbound (between the two renames)
    spark.sql(s"ALTER TABLE $table RENAME TO $retired")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.sql(s"DROP TABLE $retired")
    // the rename drops the rewrite's stats row with the tmp name —
    // regather under the real one (autogather discipline)
    autogatherStats(spark, table)
  }

  /** Heal a compaction that crashed mid-swap: if `table`'s serving
    * name is unbound but a complete sibling survives, re-bind it —
    * `_compacting` (the fully-written rewrite) wins over `_retired`
    * (the pre-compaction original; only bindable if the crash hit
    * between the two renames and the rewrite was somehow lost).
    * Called automatically by [[compactBucketed]] and
    * [[appendBucketed]]; safe to call any time (no-op when the table
    * is bound). */
  def recoverCompacting(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val tmp = table + "_compacting"
      val retired = table + "_retired"
      if (spark.catalog.tableExists(tmp)) {
        spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
        spark.sql(s"DROP TABLE IF EXISTS $retired")
        ()
      } else if (spark.catalog.tableExists(retired)) {
        spark.sql(s"ALTER TABLE $retired RENAME TO $table")
        ()
      }
    }

  /** Append into an existing bucketed table under its OWN layout
    * ([[layoutOf]]: read back so the caller cannot drift the bucket
    * count — Spark refuses mismatched specs, this makes the match
    * automatic). The one append path of all seven serving indexes
    * (s11–s15, s26, s27): it heals a crashed compaction first, and it
    * gathers stats after. */
  def appendBucketed(df: DataFrame, table: String, bucketCol: String): Unit = {
    recoverCompacting(df.sparkSession, table)
    val (spec, format) = layoutOf(df.sparkSession, table)
    df.write.mode(SaveMode.Append)
      .bucketBy(spec.numBuckets, bucketCol).sortBy(bucketCol)
      .format(format).saveAsTable(table)
    // append grows the table past its recorded rowCount — stale stats
    // UNDER-estimate and mis-plan broadcasts, the worse direction
    autogatherStats(df.sparkSession, table)
  }

  /** Overwrite a bucketed table with `df` under the table's own layout —
    * the same-layout rewrite of an index's small derived tables (the
    * BM25 df merge, the cluster relabel). `df` must not be a lazy plan
    * over `table`: cut it first. */
  def rewriteBucketed(df: DataFrame, table: String): Unit = {
    val (spec, format) = layoutOf(df.sparkSession, table)
    writeBucketed(df, table, spec.bucketColumnNames.head, spec.numBuckets, format)
  }

  /** A bucketed table's own bucket spec and provider, which every
    * append, compaction and rewrite reuses: the layout is the table's
    * contract, never the caller's, and a hard-coded parquet would
    * silently convert (or refuse to append to) an ORC lake table
    * (s28). */
  private def layoutOf(spark: SparkSession, table: String)
      : (org.apache.spark.sql.catalyst.catalog.BucketSpec, String) = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    (meta.bucketSpec.getOrElse(sys.error(s"$table is not bucketed — not an index table")),
      meta.provider.getOrElse("parquet"))
  }

  /** The rows of `batch` whose `key` is not yet in the `registry`
    * table: the increment an index append registers, so a replayed
    * batch can only no-op. Cut EAGERLY, not persisted: the anti-join
    * reads the table the append then writes, and the table commit
    * invalidates dependent cached plans, so a lazy or persisted frame
    * would silently re-evaluate against the grown table (to empty).
    * The batch is maintenance-sized, so the lost-executor recompute
    * concern that makes operators prefer persist does not apply. */
  def unregistered(batch: DataFrame, registry: String, key: String): DataFrame = {
    recoverCompacting(batch.sparkSession, registry)
    batch.join(batch.sparkSession.table(registry).select(col(key)), Seq(key), "left_anti")
      .transform(graft.operators.Ckpt.cut(_))
  }

  /** Drop a catalog table AND its default location. When the catalog
    * is in-memory, a previous process's table leaves its files behind
    * with no catalog entry, and creating the table again over them
    * fails with LOCATION_ALREADY_EXISTS — so every index drop and
    * refit clears both. */
  def clearTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) { fs.delete(loc, true); () }
  }

  /** Avro round-trip (s08) — the classic Hive-lake row-interchange
    * format. The standalone `spark-avro` datasource module is not on
    * this cluster's jar path, so the supported route is the one a Hive
    * warehouse uses anyway: a metastore table `STORED AS AVRO`
    * (hive-exec's AvroSerDe + the bundled avro runtime). Requires a
    * hive-enabled session ([[graft.GraftSession.hiveBuilder]]); the
    * write is a distributed CTAS, the read a plain catalog-table scan.
    * Complex types (arrays/structs/maps) map through the SerDe. */
  def writeAvroTable(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val tmp = s"graft_avro_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.createOrReplaceTempView(tmp)
    try {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"CREATE TABLE $table STORED AS AVRO AS SELECT * FROM $tmp")
    } finally spark.catalog.dropTempView(tmp)
  }

  def readAvroTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** s30: PARTITIONED Avro lake table — the s28 treatment for the
    * classic Hive row-interchange format, through the same SerDe route
    * as [[writeAvroTable]] (the standalone `spark-avro` datasource
    * module stays jar-walled; a migrating Hive warehouse's Avro tables
    * are metastore tables anyway). Explicit CREATE + dynamic-partition
    * INSERT because Hive refuses partitioned CTAS; each partition
    * value lands as its own directory, so a partition-key predicate
    * prunes at the METASTORE before any file opens — at 100 TB that is
    * the difference between listing one lang's directories and
    * scanning the lake. Row-level predicate/column pushdown into the
    * Avro SerDe is NOT claimed (a row format decodes whole records —
    * the format's own physics, and the reason the ORC/parquet paths
    * are the recommended lake formats); partition pruning and value-
    * lossless round-trips are the spec'd contract. */
  def writePartitionedAvroTable(df: DataFrame, table: String,
                                partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val tmp = s"graft_avro_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.createOrReplaceTempView(tmp)
    val prevMode = spark.conf.getOption("hive.exec.dynamic.partition.mode")
    try {
      // a previous JVM's orphaned location would otherwise leave stale
      // partition directories the dynamic insert doesn't overwrite
      clearTable(spark, table)
      val dataCols = df.schema.filterNot(f => partitionCols.contains(f.name))
      val colDdl = dataCols.map(f => s"${f.name} ${f.dataType.sql}")
        .mkString(", ")
      val partDdl = partitionCols
        .map(p => s"$p ${df.schema(p).dataType.sql}").mkString(", ")
      spark.sql(s"CREATE TABLE $table ($colDdl) " +
        s"PARTITIONED BY ($partDdl) STORED AS AVRO")
      // all-dynamic partition insert needs nonstrict mode (Hive's
      // default demands one static partition key)
      spark.conf.set("hive.exec.dynamic.partition.mode", "nonstrict")
      spark.sql(s"INSERT OVERWRITE TABLE $table " +
        s"PARTITION (${partitionCols.mkString(", ")}) " +
        s"SELECT ${(dataCols.map(_.name) ++ partitionCols).mkString(", ")} " +
        s"FROM $tmp")
      ()
    } finally {
      spark.catalog.dropTempView(tmp)
      prevMode match {
        case Some(m) => spark.conf.set("hive.exec.dynamic.partition.mode", m)
        case None => spark.conf.unset("hive.exec.dynamic.partition.mode")
      }
    }
  }

  /** ORC round-trip (s05): columnar alternative to parquet with the
    * same pushdown/pruning behavior through the v2 file source. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** s28: partitioned ORC lake layout — the day-one shape of a
    * migrating Hive warehouse (most existing Hive lakes are ORC-first,
    * laid out as `table/part=value/` directories). Same small-files
    * discipline as [[writePartitionedParquet]]: repartition on the
    * partition columns so each task owns whole directories. Reads get
    * directory-level partition pruning plus ORC predicate pushdown and
    * column projection (both spec'd against the executed plan — a
    * format swap that silently dropped pushdown would read every
    * stripe of 100 TB for a 2-column filter query). */
  def writePartitionedOrc(df: DataFrame, path: String,
                          partitionCols: Seq[String],
                          mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(partitionCols.map(df.col): _*)
      .write.mode(mode).partitionBy(partitionCols: _*).orc(path)

  /** q209: the ORC surface as a DRIVER-GATED query, not just a spec —
    * writes the documents table as lang-partitioned ORC into the
    * warehouse, reads it back through the ORC scan (selective filter +
    * narrow projection, so pushdown/pruning are on the hot path), and
    * aggregates per (lang, source). The DuckDB oracle computes the
    * same aggregate from the ORIGINAL parquet, so the row is green
    * only if the ORC round-trip is value-lossless — types, nulls, and
    * multi-byte text included.
    *
    * The staging path is keyed by the SOURCE dataset dir (same
    * `graft_ci_<dir>` discipline as the CI table names): a fixed path
    * would let a second invocation for a different dataset — or a
    * concurrent session sharing the warehouse — clobber the files
    * under the first call's still-lazy DataFrame. */
  def q209OrcDocuments(spark: SparkSession, documents: DataFrame,
                       datasetDir: String): DataFrame = {
    val key = datasetDir.replaceAll("[^A-Za-z0-9]", "_")
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"_graft_orc_documents_$key").toString
    writePartitionedOrc(documents, path, Seq("lang"))
    roundTripAggregate(readOrc(spark, path))
  }

  /** The q209/q213 verification aggregate — selective filter + narrow
    * projection (so pushdown/pruning sit on the hot path where the
    * format supports them) + per-(lang, source) counts/sums/extrema
    * whose DuckDB oracle reads the ORIGINAL parquet: green only if the
    * format round-trip is value-lossless, multi-byte text included. */
  private def roundTripAggregate(docs: DataFrame): DataFrame =
    docs
      .filter(col("n_chars") > 200L)
      .select(col("lang"), col("source"), col("doc_id"), col("n_chars"),
        org.apache.spark.sql.functions.length(col("text")).as("text_len"))
      .groupBy(col("lang"), col("source"))
      .agg(
        org.apache.spark.sql.functions.count(col("doc_id")).as("n_docs"),
        org.apache.spark.sql.functions.sum(col("n_chars")).as("sum_chars"),
        org.apache.spark.sql.functions.sum(col("text_len")).as("sum_text_len"),
        org.apache.spark.sql.functions.min(col("doc_id")).as("min_id"),
        org.apache.spark.sql.functions.max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"), col("source"))

  /** Avro schema for a frame — primitives plus RECURSIVE
    * array/struct/map(string-keyed) columns, so an embeddings column
    * (`array<double>`, even `array<float>` inside a struct) rides the
    * same catalog-free file route as the flat documents table. Nested
    * record names derive from the field path (Avro requires unique
    * record names within a schema). */
  private def avroSchemaFor(st: org.apache.spark.sql.types.StructType)
      : org.apache.avro.Schema = avroRecordFor(st, "graft_row")

  private def avroRecordFor(st: org.apache.spark.sql.types.StructType,
                            name: String): org.apache.avro.Schema = {
    import org.apache.avro.Schema
    val fields = st.fields.map { f =>
      val base = avroTypeFor(f.dataType, s"${name}_${f.name}")
      if (f.nullable)
        new Schema.Field(f.name,
          Schema.createUnion(Schema.create(Schema.Type.NULL), base),
          null, Schema.Field.NULL_DEFAULT_VALUE)
      else new Schema.Field(f.name, base, null, null.asInstanceOf[Object])
    }
    Schema.createRecord(name, null, "graft", false,
      java.util.Arrays.asList(fields: _*))
  }

  private def avroTypeFor(dt: org.apache.spark.sql.types.DataType,
                          path: String): org.apache.avro.Schema = {
    import org.apache.avro.Schema
    import org.apache.spark.sql.types._
    def nullWrap(s: Schema, nullable: Boolean): Schema =
      if (nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), s)
      else s
    dt match {
      case LongType    => Schema.create(Schema.Type.LONG)
      case IntegerType => Schema.create(Schema.Type.INT)
      case DoubleType  => Schema.create(Schema.Type.DOUBLE)
      case FloatType   => Schema.create(Schema.Type.FLOAT)
      case StringType  => Schema.create(Schema.Type.STRING)
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case BinaryType  => Schema.create(Schema.Type.BYTES)
      case ArrayType(e, containsNull) =>
        Schema.createArray(nullWrap(avroTypeFor(e, s"${path}_item"),
          containsNull))
      case MapType(StringType, v, valueContainsNull) =>
        Schema.createMap(nullWrap(avroTypeFor(v, s"${path}_value"),
          valueContainsNull))
      case s: StructType => avroRecordFor(s, path)
      case other => sys.error(
        s"avro file route supports primitives, arrays, structs, and " +
        s"string-keyed maps, not $other " +
        "(use the s30 metastore surface for anything else)")
    }
  }

  /** Spark row value → Avro datum under `schema` (recursive; unions
    * resolve to their non-null branch — the only unions
    * [[avroSchemaFor]] emits). Runs INSIDE the writing task. */
  private def toAvro(v: Any, schema: org.apache.avro.Schema): Any = {
    import org.apache.avro.Schema
    import scala.jdk.CollectionConverters._
    if (v == null) return null
    val s =
      if (schema.getType == Schema.Type.UNION)
        schema.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
      else schema
    s.getType match {
      case Schema.Type.BYTES =>
        java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case Schema.Type.ARRAY =>
        val out = new java.util.ArrayList[Any]()
        v.asInstanceOf[scala.collection.Seq[Any]]
          .foreach(x => out.add(toAvro(x, s.getElementType)))
        out
      case Schema.Type.MAP =>
        val out = new java.util.HashMap[String, Any]()
        v.asInstanceOf[scala.collection.Map[String, Any]]
          .foreach { case (k, x) => out.put(k, toAvro(x, s.getValueType)) }
        out
      case Schema.Type.RECORD =>
        val row = v.asInstanceOf[org.apache.spark.sql.Row]
        val rec = new org.apache.avro.generic.GenericData.Record(s)
        var i = 0
        while (i < row.length) {
          rec.put(i, toAvro(row.get(i), s.getFields.get(i).schema()))
          i += 1
        }
        rec
      case _ => v
    }
  }

  /** Avro datum → Spark row value shaped by `dt` (recursive). Values
    * COPY out of the record here — Hadoop record readers reuse
    * objects, so holding a reference across rows would alias. */
  private def fromAvro(v: Any, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    (v, dt) match {
      case (null, _) => null
      case (u: org.apache.avro.util.Utf8, _) => u.toString
      case (bb: java.nio.ByteBuffer, _) =>
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
      case (l: java.util.Collection[_], ArrayType(e, _)) =>
        l.asScala.toSeq.map(fromAvro(_, e))
      case (m: java.util.Map[_, _], MapType(_, vt, _)) =>
        m.asScala.map { case (k, x) =>
          fromAvro(k, StringType).asInstanceOf[String] -> fromAvro(x, vt)
        }.toMap
      case (r: org.apache.avro.generic.GenericRecord, st: StructType) =>
        org.apache.spark.sql.Row.fromSeq(
          st.fields.toIndexedSeq.map(f => fromAvro(r.get(f.name), f.dataType)))
      case (x, _) => x
    }
  }

  /** s30 file half: standard .avro CONTAINER files on a path — no
    * catalog, no `spark-avro` module, just the avro-mapred Hadoop I/O
    * the platform already ships. Rows convert to GenericRecords
    * partition-locally (no shuffle — the map and the write share a
    * stage) and any Avro tool reads the output. This is the route the
    * DRIVER-GATED q213 uses, because the correctness session runs
    * without a Hive catalog; the metastore surface
    * ([[writePartitionedAvroTable]]) is the warehouse-facing twin. */
  def writeAvroFiles(df: DataFrame, path: String): Unit = {
    import org.apache.avro.generic.{GenericData, GenericRecord}
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.{AvroJob, AvroKeyOutputFormat}
    import org.apache.hadoop.io.NullWritable
    val spark = df.sparkSession
    val schemaJson = avroSchemaFor(df.schema).toString
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () } // Overwrite semantics
    val job = org.apache.hadoop.mapreduce.Job
      .getInstance(spark.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job,
      new org.apache.avro.Schema.Parser().parse(schemaJson))
    val names = df.schema.fieldNames
    df.rdd.mapPartitions { it =>
      val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
      it.map { row =>
        val rec = new GenericData.Record(schema)
        var i = 0
        while (i < names.length) {
          rec.put(names(i),
            toAvro(row.get(i), schema.getFields.get(i).schema()))
          i += 1
        }
        (new AvroKey[GenericRecord](rec), NullWritable.get())
      }
    }.saveAsNewAPIHadoopFile(path, classOf[AvroKey[GenericRecord]],
      classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]],
      job.getConfiguration)
  }

  /** Read [[writeAvroFiles]] output back into a frame with `schema`.
    * Values copy out of the record INSIDE the reading map (Hadoop
    * record readers reuse objects — holding a reference across rows
    * would alias); [[fromAvro]] recurses through arrays/structs/maps,
    * Utf8 → String and ByteBuffer → Array[Byte] at the leaves. */
  def readAvroFiles(spark: SparkSession, path: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.avro.generic.GenericRecord
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.AvroKeyInputFormat
    import org.apache.hadoop.io.NullWritable
    val fields = schema.fields.toIndexedSeq
    val rows = spark.sparkContext.newAPIHadoopFile(
        path, classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable])
      .map { case (k, _) =>
        val rec = k.datum()
        org.apache.spark.sql.Row.fromSeq(
          fields.map(f => fromAvro(rec.get(f.name), f.dataType)))
      }
    spark.createDataFrame(rows, schema)
  }

  /** q213: the s30 Avro surface as a driver-gated query — documents
    * round-tripped through REAL .avro container files (the catalog-
    * free avro-mapred route; the correctness session has no Hive
    * catalog) and aggregated per (lang, source) against the same
    * original-parquet oracle as q209. Path keyed by the dataset dir
    * (the q209 clobber lesson). */
  def q213AvroDocuments(spark: SparkSession, documents: DataFrame,
                        datasetDir: String): DataFrame = {
    val key = datasetDir.replaceAll("[^A-Za-z0-9]", "_")
    // no leading underscore: FileInputFormat's hidden-file filter
    // applies to its own input glob, so a `_`-prefixed staging dir is
    // invisible to the very reader that must consume it
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_avro_stage_$key").toString
    writeAvroFiles(documents, path)
    roundTripAggregate(readAvroFiles(spark, path, documents.schema))
  }

  /** m01: dynamic-partition INSERT OVERWRITE to a path — replaces ONLY
    * the partition directories `df` produces, leaving every sibling
    * partition's files untouched (the Hive daily-load semantics). The
    * per-write option overrides the session default, so the helper
    * behaves the same under any session. */
  def insertOverwritePartitions(df: DataFrame, path: String,
                                partitionCols: Seq[String],
                                numFiles: Option[Int] = None): Unit = {
    val shaped = numFiles match {
      case Some(n) => df.repartition(n, partitionCols.map(df.col): _*)
      case None    => df.repartition(partitionCols.map(df.col): _*)
    }
    shaped.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** m02: MERGE-style upsert into a partitioned parquet lake path —
    * graft's mutation stance for file-based tables (README §mutation):
    * parquet files are immutable, so row-level UPDATE/DELETE is
    * expressed as "rewrite exactly the partitions containing matched
    * keys". Rows in `updates` replace target rows with the same key;
    * unmatched keys append. Cost is ∝ the AFFECTED partitions (semi-join
    * prune), never the full table — the 100 TB daily-upsert shape.
    *
    * Affected = partitions the updates land in ∪ partitions currently
    * holding a matched key — so an update that MOVES a key to a new
    * partition value also rewrites the key's old partition (no stale
    * duplicate). A rewritten partition left with zero rows is deleted
    * explicitly (dynamic overwrite cannot delete a partition it writes
    * no rows to); the emptied-partition list is metadata-sized.
    *
    * Two-phase on purpose: the merged result is staged to `staging`
    * before the dynamic overwrite, because a single-phase plan would
    * read and overwrite the same files (Spark rejects it, and a failure
    * mid-write would corrupt the partition). At warehouse scale phase 2
    * is a near-free file move per partition. */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                        keyCols: Seq[String], partitionCols: Seq[String],
                        staging: String): Unit = graft.Pins.scope {
    val target = spark.read.parquet(path)
    val keys = updates.select(keyCols.map(updates.col): _*)
    val matchedParts = target.join(keys, keyCols, "left_semi")
      .select(partitionCols.map(target.col): _*).distinct()
    val affectedParts = updates.select(partitionCols.map(updates.col): _*)
      .unionByName(matchedParts).distinct()
      .transform(graft.Pins.pin)
    val affected = target.join(affectedParts, partitionCols, "left_semi")
    val kept = affected.join(keys, keyCols, "left_anti")
    val merged = kept.unionByName(updates)
    merged.write.mode(SaveMode.Overwrite).parquet(staging)
    val staged = spark.read.parquet(staging)
    // compute the drained-partition list BEFORE mutating `path`: the
    // lineage of both sides reads the pre-upsert target, and a cache
    // loss after the overwrite would silently recompute from mutated
    // data (missing the moved key's old partition). Metadata-sized.
    val emptied = affectedParts
      .join(staged.select(partitionCols.map(staged.col): _*).distinct(),
        partitionCols, "left_anti")
      .select(partitionCols.map(c => col(c).cast("string")): _*)
      .collect()
    insertOverwritePartitions(staged, path, partitionCols)
    // partitions fully drained by the upsert: in affected but absent
    // from the staged result — delete their directories (hive-escaped
    // names; string-cast partition values match the directory layout)
    if (emptied.nonEmpty) {
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { row =>
        val dir = partitionCols.zipWithIndex.map { case (c, i) =>
          val v = if (row.isNullAt(i)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
                  else ExternalCatalogUtils.escapePathName(row.getString(i))
          s"${ExternalCatalogUtils.escapePathName(c)}=$v"
        }.mkString("/")
        val p = new Path(s"$path/$dir")
        if (fs.exists(p)) require(fs.delete(p, true), s"failed to delete drained partition $p")
      }
    }
  }

  /** s06: small-files compaction — the nightly maintenance op that keeps
    * a streamed-into lake path scannable. Micro-batch sinks and
    * per-partition writers accrete thousands of KB-sized files; scan
    * cost then becomes per-file open overhead instead of IO.
    *
    * Partitioned layouts (`partitionCols` non-empty) compact IN PLACE
    * via dynamic partition overwrite — no swap window at all, and the
    * directory layout (and partition pruning) is preserved. Flat
    * layouts rewrite to `staging` then swap; the swap is
    * old→trash, staging→path, delete-trash with every FS call checked,
    * so a crash at any point leaves a complete copy recoverable (in
    * `<path>.trash` or `staging`) — a raw filesystem has no atomic
    * multi-file commit; single-writer maintenance windows are assumed
    * (a table format provides the transactional version).
    * Returns the file count written. */
  def compact(spark: SparkSession, path: String, staging: String,
              targetBytes: Long = 128L << 20,
              partitionCols: Seq[String] = Nil): Int = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var bytes = 0L
    var sawPartitionDir = false
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
      if (f.getPath.getParent.getName.contains("=")) sawPartitionDir = true
    }
    require(partitionCols.nonEmpty || !sawPartitionDir,
      s"$path has hive-partitioned directories; pass partitionCols so " +
      "compaction preserves the layout instead of flattening it")
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (partitionCols.nonEmpty) {
      // stage (a plan may not read and overwrite the same files), then
      // dynamic-overwrite each partition in place — layout preserved
      spark.read.parquet(path).write.mode(SaveMode.Overwrite).parquet(staging)
      insertOverwritePartitions(spark.read.parquet(staging), path,
        partitionCols, numFiles = Some(n))
    } else {
      spark.read.parquet(path).repartition(n)
        .write.mode(SaveMode.Overwrite).parquet(staging)
      val trash = new Path(path + ".trash")
      fs.delete(trash, true)
      require(fs.rename(p, trash), s"rename $path -> $trash failed")
      require(fs.rename(new Path(staging), p), s"rename $staging -> $path failed")
      fs.delete(trash, true)
    }
    n
  }

  /** s07: schema-evolution read — parquet footers under `path` may have
    * been written across schema versions (columns added over time);
    * `mergeSchema` unions them, null-filling missing columns. Kept off
    * by default on ordinary reads because footer merging is a per-file
    * cost at 100 TB — turn it on exactly where evolution happened. */
  def readParquetMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** JSON lines writer; round-trips with [[readJson]] + schema (schema
    * inference is an extra full scan — never infer at 100 TB). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .schema(schema)
      .json(path)

  /** s24: RAW TEXT-LINE corpus ingest — the WET/plain-dump entry path
    * before anything is parquet: one row per line with its source
    * file and a DETERMINISTIC per-file line number — a window by file
    * ordered by (`_metadata.file_block_start`, mono-id): the split's
    * byte offset orders splits of one file EXPLICITLY (not via the
    * undocumented length-descending FilePartition packing order), and
    * within a split the per-partition monotonic id follows the
    * reader's sequential emission, i.e. line order. `wholetext =
    * true` reads each file as ONE document instead (the
    * one-doc-per-file corpus layout). Shard the dump into many files
    * upstream — as every crawl already does — for listing-level
    * parallelism at 100 TB. */
  def readTextLines(spark: SparkSession, path: String,
                    wholetext: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val base = spark.read.option("wholetext", wholetext.toString).text(path)
      .select(col("_metadata.file_path").as("file"),
        col("_metadata.file_block_start").as("_block_start"),
        col("value").as("text"))
    if (wholetext) base.drop("_block_start")
    else base.withColumn("line",
      row_number().over(Window.partitionBy(col("file"))
        .orderBy(col("_block_start"), monotonically_increasing_id()))
        .cast("long"))
      .drop("_block_start")
  }

  /** s25: RAW BINARY-FILE media ingest — `binaryFile` rows
    * (path, modificationTime, length, content) are exactly the opaque
    * (payload, typed metadata) shape the §2c multimodal operators
    * take; `pathGlobFilter` prunes by extension at LISTING time and
    * the reader pushes `length` filters down so oversized blobs never
    * leave the datanode. `maxLength` guards the executor: one 4 GiB
    * video in a batch of thumbnails would otherwise OOM the decode
    * partition — size it to the decode budget. */
  def readBinaryFiles(spark: SparkSession, dir: String,
                      glob: String = "*", maxLength: Long = 64L << 20)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .filter(col("length") <= maxLength)
      .select(col("path"), col("length"), col("content"))
  }

  /** 16-bit Morton interleave: z = x₁₅y₁₅x₁₄y₁₄…x₀y₀. Pure bit-shift
    * column arithmetic — stays inside whole-stage codegen. */
  private def interleave16(x: org.apache.spark.sql.Column,
                           y: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  /** s09: Z-ORDER clustered layout — write `df` so that BOTH `cx` and
    * `cy` are locality-clustered per file, giving min/max file skipping
    * on predicates over EITHER column (a single-column sort clusters
    * only its own column; every file then spans the other column's full
    * range and nothing prunes). This is the multi-dimensional layout
    * trick lakehouse engines ship as OPTIMIZE ZORDER BY.
    *
    * Mechanics: each column is linearly quantized to 16 bits against
    * its min/max (the one-row stats aggregate is broadcast back — no
    * driver collect), the two are Morton-interleaved into a 32-bit
    * z-value, and the frame is range-partitioned + sorted on z before
    * writing `numFiles` parquet files. Cost at 100 TB is exactly one
    * extra shuffle over a plain repartition write; the z column is
    * projected away before bytes land. */
  def writeZOrdered(df: DataFrame, path: String, cx: String, cy: String,
                    numFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    val stats = df.agg(
      min(col(cx)).cast("double").as("__xmin"), max(col(cx)).cast("double").as("__xmax"),
      min(col(cy)).cast("double").as("__ymin"), max(col(cy)).cast("double").as("__ymax"))
    def quant(v: org.apache.spark.sql.Column, mn: org.apache.spark.sql.Column,
              mx: org.apache.spark.sql.Column) =
      when(mx === mn, lit(0L)).otherwise(
        least(lit(65535L), floor(
          (v.cast("double") - mn) / (mx - mn) * lit(65536.0))
          .cast("long")))
    val z = interleave16(
      quant(col(cx), col("__xmin"), col("__xmax")),
      quant(col(cy), col("__ymin"), col("__ymax")))
    df.crossJoin(broadcast(stats))
      .withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .select(df.columns.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** s10: training-shard EXPORT — materialize q88's deterministic
    * shuffle-shard as N physical files, one per shard: the final
    * "write the training corpus as shuffled shard files" step.
    * Shard assignment and in-shard order are the q88 hash (same salt),
    * so the bytes on disk are reproducible across runs, engines, and
    * cluster layouts — q88 answers "which shard/position", this writes
    * it. Each shard's rows hash-repartition into exactly one task
    * (`repartition(shards, $"shard")`), `partitionBy` splits tasks
    * into shard=N directories, so every directory holds exactly ONE
    * file whose row order is the in-shard scramble. Cost at 100 TB is
    * one shuffle of the corpus — the unavoidable one that builds the
    * shards; shard count sets write parallelism and file size. */
  def writeTrainingShards(documents: DataFrame, path: String,
                          shards: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    val h = pmod(
      pmod(col("doc_id") + lit(20260812L), lit(1000000007L)) * lit(2654435761L),
      lit(1000000007L))
    documents
      .withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__h"), col("doc_id"))
      .drop("__h")
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(path)
  }

  /** s20: JDBC source — the most-asked external integration for a
    * warehouse surface (operational DBs feed dimension tables; specs
    * run against embedded Derby, the same DataSource V1 JDBC path as
    * Postgres/MySQL at deploy time, only the driver string differs).
    *
    * Scale contract: the UNPARTITIONED overload opens ONE connection
    * and streams the whole table through a single task — correct only
    * for dimension-sized tables. Anything bigger goes through the
    * PARTITIONED overload: `numPartitions` tasks each read one
    * `partitionColumn` range slice (Spark appends the range predicate
    * to each task's query), so read parallelism and per-task memory
    * are bounded — the standard Sqoop-shaped ingest. Catalyst pushes
    * filters and column pruning into the remote SQL (`PushedFilters`
    * in the scan — specced), so a selective read ships rows, not the
    * table. */
  def readJdbc(spark: SparkSession, url: String, table: String,
               driver: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("driver", driver)
      .load()

  /** Range-partitioned JDBC read: `numPartitions` concurrent range
    * slices of `partitionColumn` (must be numeric/date — the JDBC
    * source's contract). Bounds outside the true min/max only skew
    * the first/last slice, never drop rows. */
  def readJdbc(spark: SparkSession, url: String, table: String,
               driver: String, partitionColumn: String,
               lowerBound: Long, upperBound: Long,
               numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("driver", driver)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .load()

  /** JDBC sink: each partition writes over its own connection in
    * batched inserts (`batchsize` rows per round-trip). Parallelism =
    * df partitions — repartition first if the target DB wants fewer
    * concurrent writers; `Overwrite` drops and recreates the table
    * (the warehouse-refresh idiom), `Append` is the incremental
    * load. */
  def writeJdbc(df: DataFrame, url: String, table: String, driver: String,
                mode: SaveMode = SaveMode.Overwrite,
                batchSize: Int = 1000): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("driver", driver)
      .option("batchsize", batchSize)
      .mode(mode)
      .save()
}
