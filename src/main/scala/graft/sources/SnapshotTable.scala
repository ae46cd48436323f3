package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** s16: SNAPSHOT TABLES — atomic commits, time travel, and rollback
  * over plain parquet, the thin slice of an open table format
  * (Iceberg/Delta-class) that needs no external jars.
  *
  * This opens (part of) the declared table-format wall: v1 lake
  * tables made every multi-file mutation non-atomic (a reader could
  * see half an overwrite), which is why ddl05/m02 mutations are
  * fenced single-writer and why s11–s15 refuse concurrent appends.
  * Snapshot tables fix the READER side completely and make every
  * commit all-or-nothing:
  *
  *  - Data files are IMMUTABLE. Each commit writes its files into a
  *    fresh `data/<uuid>/` directory nobody references yet.
  *  - A manifest (`_graft_snapshots/v<N>`) lists the exact file set
  *    of one table version, plus the schema as of that version.
  *  - `CURRENT` names the head version and is swapped by an atomic
  *    rename, so a reader sees the WHOLE old version or the WHOLE
  *    new one, never a mix — and a DataFrame planned against version
  *    N keeps reading N's immutable files even if the head moves on.
  *
  * Writers stay single-writer ([[graft.operators.LakeLock]], same
  * contract as s11–s15) — optimistic concurrent commits need a
  * compare-and-swap the local/HDFS FileSystem API can fence only
  * per-file; the exclusive-create of the manifest is kept as a
  * second fence so even a misused writer fails the COMMIT rather
  * than corrupting history. Readers never lock.
  *
  * Layout:
  * {{{
  *   <path>/data/<uuid>/part-*.parquet     immutable commit payloads
  *   <path>/_graft_snapshots/v<00000N>     manifest (text, see below)
  *   <path>/_graft_snapshots/CURRENT       head version (atomic swap)
  * }}}
  *
  * Manifest format (line-oriented; schema is Spark's single-line
  * `StructType.json`, round-tripped via `StructType.fromJson`):
  * version, parent, operation, timestamp-millis, schema-json, then
  * one relative data-file path per line.
  *
  * At 100 TB: manifests are file LISTS (metadata-sized — a 100 TB
  * table at 512 MB files is ~200k lines, a few MB of text), commits
  * append O(new files) lines, and reads plan from the manifest
  * instead of a directory listing — the same reason Iceberg scales
  * on object stores where `ls` is slow or eventually consistent.
  * Later slices opened more of the wall: s17 column-stat file
  * skipping (`analyze`/`readPruned` by min-max), s18 partitioned
  * commits with manifest-level partition pruning
  * ([[createPartitioned]]/[[readPruned]]), append-only CAS commits
  * ([[appendOptimistic]]), the incremental change feed
  * ([[readChanges]]), and CAS-with-REBASE for locked mutations
  * (`commit` replans `dfOf` against the new head when a lock-free
  * appender wins the version race — delete/merge/compact never lose
  * concurrent appends and never fail spuriously). Still owed: CAS on
  * eventually-consistent object stores (needs a conditional-put
  * primitive the FileSystem API lacks).
  */
object SnapshotTable {

  case class Snapshot(version: Long, parent: Long, operation: String,
                      tsMillis: Long, schema: StructType,
                      files: Seq[String])

  private def snapDir(path: String) = new Path(path, "_graft_snapshots")
  private def manifestPath(path: String, v: Long) =
    new Path(snapDir(path), f"v$v%08d")
  private def currentPath(path: String) = new Path(snapDir(path), "CURRENT")

  /** ATOMICALLY claim `p` (fail if it exists), then write `body`.
    * Hadoop's local `FileSystem.create(overwrite = false)` is
    * check-then-act — two racing writers can BOTH pass the exists
    * check (observed: four CAS writers all "winning" one version) —
    * so on `file://` the claim goes through java.nio
    * `Files.createFile` (O_EXCL, kernel-atomic); on HDFS
    * `fs.create` is NameNode-atomic already. The claim makes an
    * EMPTY file visible before the body lands — [[EndSentinel]] +
    * the [[snapshot]] retry close that window for readers. */
  private def writeExclusive(f: FileSystem, p: Path, body: String): Unit = {
    val qp = f.makeQualified(p)
    if (qp.toUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(qp.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      java.nio.file.Files.createFile(local) // throws if it exists
      java.nio.file.Files.write(local, body.getBytes(StandardCharsets.UTF_8))
      ()
    } else LakeFiles.write(f, p, body, overwrite = false)
  }

  /** Pluggable COMMIT-ARBITRATION seam — the object-store gap made a
    * trait (the MediaCodec pattern applied to the commit point): every
    * snapshot mutation funnels its version race through ONE operation,
    * "claim manifest v exclusively, then make its body readable". The
    * default is the kernel/NameNode-atomic exclusive create below —
    * correct on POSIX and HDFS. An S3-class deployment plugs in a
    * conditional-put (`If-None-Match: *`) or DynamoDB-arbiter
    * implementation here WITHOUT touching any commit logic; the claim
    * itself decides the race, so the body write behind it does not
    * need to be atomic (the EndSentinel + snapshot() retry already
    * close the visible-before-complete window for readers). */
  trait CommitArbiter extends Serializable {
    /** Atomically claim `p` and write `body`. MUST throw a
      * `FileAlreadyExistsException` (hadoop or nio flavor) iff another
      * writer already owns `p` — that signal is what the CAS-rebase
      * retry loops key on; any other failure must propagate. */
    def claim(f: FileSystem, p: Path, body: String): Unit
  }

  /** Default arbiter: O_EXCL create on `file://`, NameNode-atomic
    * `create(overwrite = false)` elsewhere. */
  object ExclusiveCreateArbiter extends CommitArbiter {
    override def claim(f: FileSystem, p: Path, body: String): Unit =
      writeExclusive(f, p, body)
  }

  /** Deployment-wide arbiter (set ONCE at boot, before any writer —
    * it must be the same for every writer of a warehouse or the race
    * has two referees). */
  @volatile var commitArbiter: CommitArbiter = ExclusiveCreateArbiter

  private def manifestVersions(f: FileSystem, path: String): Seq[Long] = {
    val sd = snapDir(path)
    if (!f.exists(sd)) Seq.empty
    else f.listStatus(sd).map(_.getPath.getName).toSeq
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).sorted
  }

  /** Head version, or 0 if the table does not exist yet. The source
    * of truth is the MANIFEST LISTING (the exclusive manifest create
    * is the commit point — see [[appendOptimistic]]); the `CURRENT`
    * file is a best-effort human-readable hint, never read here. */
  def currentVersion(spark: SparkSession, path: String): Long =
    manifestVersions(LakeFiles.fs(spark, path), path).lastOption.getOrElse(0L)

  /** Manifest terminator: the exclusive CREATE claims the version
    * number atomically, but the body lands through the same stream a
    * few microseconds later — a racing reader can open the file
    * in that window. The sentinel makes completeness detectable, and
    * [[snapshot]] waits it out (bounded) instead of parsing a
    * half-written manifest. */
  private val EndSentinel = "#end"

  /** Load one snapshot's manifest. Retries briefly if the manifest is
    * claimed but its body is still in flight (see [[EndSentinel]]). */
  def snapshot(spark: SparkSession, path: String, version: Long): Snapshot = {
    val f = LakeFiles.fs(spark, path)
    val mp = manifestPath(path, version)
    require(f.exists(mp), s"snapshot table $path has no version $version")
    var attempt = 0
    while (true) {
      val lines = LakeFiles.read(f, mp).split("\n", -1).toSeq
      if (lines.nonEmpty && lines.last == EndSentinel)
        return Snapshot(lines(0).toLong, lines(1).toLong, lines(2),
          lines(3).toLong,
          org.apache.spark.sql.types.DataType.fromJson(lines(4))
            .asInstanceOf[StructType],
          lines.drop(5).dropRight(1).filter(_.nonEmpty))
      attempt += 1
      require(attempt < 200,
        s"manifest $mp incomplete after ${attempt * 20} ms — writer died " +
        "mid-publish; delete the manifest to roll its claim back")
      Thread.sleep(20)
    }
    throw new IllegalStateException("unreachable")
  }

  /** All snapshots, oldest first — the table's commit history. */
  def history(spark: SparkSession, path: String): Seq[Snapshot] =
    manifestVersions(LakeFiles.fs(spark, path), path)
      .map(v => snapshot(spark, path, v))

  /** One commit: write `dfOf(head)` (if any) as a fresh immutable
    * data dir, publish manifest v(head+1) with `files`, atomically
    * swap CURRENT. Runs under the table's writer lock — and `dfOf`,
    * `filesOf` and `schemaOf` receive the head snapshot AS SEEN UNDER
    * THE LOCK (its manifest read once per attempt), so a mutation that
    * derives its payload from the table (delete/merge/compact) plans
    * against the version it will actually replace. Resolving the base
    * outside the lock loses any appendOptimistic that lands between
    * plan and lock (the rows silently vanish from the new head);
    * resolving inside leaves only the plan→publish window, which the
    * exclusive manifest create turns into a loud rebase error. */
  /** All parquet files under `base`, RECURSIVELY, as base-relative
    * paths — a partitioned commit nests its files in hive-style
    * `col=value/` dirs, and the manifest records the full relative
    * path so partition values survive in metadata. */
  private def listParquetRec(f: FileSystem, base: Path): Seq[String] = {
    val qb = f.makeQualified(base).toString
    val it = f.listFiles(base, /* recursive = */ true)
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        buf += f.makeQualified(st.getPath).toString.stripPrefix(qb + "/")
    }
    buf.sorted.toSeq
  }

  /** Test seam: runs after a commit attempt plans its payload and
    * just before it publishes — the only window where a lock-free
    * appendOptimistic can still beat a locked mutation to the version
    * number. Specs inject a racing append here to exercise the rebase
    * path deterministically; production never sets it. */
  private[graft] var beforePublishHook: Option[Long => Unit] = None

  private def commit(spark: SparkSession, path: String, operation: String,
                     dfOf: Snapshot => Option[DataFrame],
                     filesOf: (Snapshot, Seq[String]) => Seq[String],
                     schemaOf: (Snapshot, Seq[String]) => StructType,
                     partCols: Seq[String] = Nil,
                     rebase: Boolean = true,
                     payloadDir: String = "data"): Long =
    graft.operators.LakeLock.withWriter(spark, lockName(spark, path)) {
      val f = LakeFiles.fs(spark, path)
      var attempt = 0
      while (true) {
        // the head manifest, read once per attempt: every closure of
        // this attempt plans against the same snapshot
        val head = currentVersion(spark, path)
        val base =
          if (head == 0L) Snapshot(0L, 0L, "", 0L, new StructType(), Nil)
          else snapshot(spark, path, head)
        val newFiles = dfOf(base) match {
          case None => Seq.empty
          case Some(d) =>
            val dir = s"$payloadDir/${UUID.randomUUID().toString.take(12)}"
            if (partCols.isEmpty) d.write.parquet(s"$path/$dir")
            else d.write.partitionBy(partCols: _*).parquet(s"$path/$dir")
            listParquetRec(f, new Path(path, dir)).map(n => s"$dir/$n")
        }
        val v = head + 1
        beforePublishHook.foreach(_(v))
        // exclusive create: if a racing appendOptimistic (lock-free by
        // design) published v first, REBASE — `dfOf` is a pure function
        // of the head, so re-running it against the new head replans
        // the mutation over the racer's rows and nothing is lost. The
        // failed attempt's data dir is unreferenced; expire() sweeps
        // it. `create` cannot rebase (a racer means the table already
        // exists) and fails loudly instead.
        try {
          publishManifest(spark, f, path, v, head, operation,
            filesOf(base, newFiles), schemaOf(base, newFiles))
          return v
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.nio.file.FileAlreadyExistsException =>
            attempt += 1
            require(rebase && attempt < 20,
              s"$operation on $path lost version $v to a concurrent " +
              "appendOptimistic" + (if (rebase) " 20 times; writer " +
              "storm — back off or pause the appenders" else
              "; nothing was corrupted — re-run it on the new head"))
        }
      }
      -1L // unreachable
    }

  /** Publish manifest `v`: an EXCLUSIVE create (the atomic commit
    * point — at most one writer can ever own a version number), then
    * a best-effort refresh of the human-readable `CURRENT` hint via
    * rename-with-OVERWRITE (java.nio REPLACE_EXISTING on local,
    * NN-atomic on HDFS). Throws if `v` already exists. */
  private def publishManifest(spark: SparkSession, f: FileSystem,
                              path: String, v: Long, parent: Long,
                              operation: String, files: Seq[String],
                              schema: StructType): Unit = {
    val body =
      (Seq(v.toString, parent.toString, operation,
        System.currentTimeMillis().toString, schema.json) ++ files :+
        EndSentinel).mkString("\n")
    commitArbiter.claim(f, manifestPath(path, v), body)
    try {
      val tmp = new Path(snapDir(path), s"CURRENT.tmp-${UUID.randomUUID()}")
      LakeFiles.write(f, tmp, v.toString, overwrite = false)
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        f.getUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(fc.makeQualified(tmp), fc.makeQualified(currentPath(path)),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch { case _: java.io.IOException => () } // hint only
  }

  /** OPTIMISTIC multi-writer append — no lock at all. Appends are
    * conflict-free by construction (they only ADD files), so the
    * protocol is a pure compare-and-swap on the version number: write
    * the immutable data dir, read the head, try to exclusively create
    * manifest head+1 with (head's files ++ ours); if a racing writer
    * won that number, re-read the new head (whose file list includes
    * the racer's files) and try again — every retry REBASES onto the
    * winner, so no writer's rows are ever lost. This is the
    * Iceberg/Delta optimistic-commit protocol scoped to the one
    * operation where rebase is always safe; overwrite/delete/merge
    * keep the lk01 lock (their rebase needs real conflict
    * resolution). Exclusive-create is atomic on POSIX/HDFS; on
    * eventually-consistent object stores use the locked [[append]].
    *
    * Mixed-schema caution: the rebase keeps the CURRENT head's
    * schema, so concurrent appends must share the table schema (same
    * rule as [[append]]). */
  def appendOptimistic(spark: SparkSession, path: String, df: DataFrame,
                       operation: String = "append",
                       maxRetries: Int = 20): Long = {
    val f = LakeFiles.fs(spark, path)
    require(currentVersion(spark, path) > 0,
      s"snapshot table $path does not exist; create() it first")
    val dir = s"data/${UUID.randomUUID().toString.take(12)}"
    df.write.parquet(s"$path/$dir")
    val newFiles = f.listStatus(new Path(path, dir))
      .map(_.getPath.getName).toSeq
      .filter(_.endsWith(".parquet")).sorted.map(n => s"$dir/$n")
    var attempt = 0
    while (true) {
      val head = currentVersion(spark, path)
      val base = snapshot(spark, path, head)
      try {
        publishManifest(spark, f, path, head + 1, head, operation,
          base.files ++ newFiles, base.schema)
        return head + 1
      } catch {
        // only the exists-already signals are a lost CAS race; any
        // other IOException (permissions, disk full) is a real failure
        // and must propagate, not spin the retry loop
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          attempt += 1
          require(attempt < maxRetries,
            s"appendOptimistic lost $maxRetries CAS races on $path; " +
            "writer storm — back off or use the locked append()")
      }
    }
    -1L // unreachable
  }

  /** The LakeLock key for a table path (locks live next to the
    * warehouse; key on the table's directory name + a stable hash so
    * distinct paths with one name don't share a lock). The path is
    * QUALIFIED first (absolute, scheme'd, no trailing slash) so every
    * spelling of one table — relative vs absolute, `file://` URI,
    * trailing `/` — maps to the same lock; hashing the raw string
    * would hand two spellings two different locks and defeat the
    * single-writer fence. */
  private[graft] def lockName(spark: SparkSession, path: String): String = {
    val qualified = LakeFiles.fs(spark, path)
      .makeQualified(new Path(path)).toUri.toString
    val h = java.lang.Integer.toHexString(qualified.hashCode)
    s"snap_${new Path(qualified).getName}_$h"
  }

  /** Create the table at `path` with `df` as version 1. The
    * `operation` tag lands in the manifest history — st26's streaming
    * sink keys replay-dedup on it. */
  def create(spark: SparkSession, path: String, df: DataFrame,
             operation: String = "create"): Long = {
    require(currentVersion(spark, path) == 0L,
      s"snapshot table $path already exists; use append/overwrite")
    commit(spark, path, operation, _ => Some(df),
      (_, nf) => nf, (_, _) => df.schema, rebase = false)
  }

  /** Append `df`'s rows; old files are reused as-is (no rewrite). */
  def append(spark: SparkSession, path: String, df: DataFrame,
             operation: String = "append"): Long =
    commit(spark, path, operation, _ => Some(df),
      (head, nf) => head.files ++ nf, (head, _) => head.schema)

  /** s23: SCHEMA EVOLUTION — append rows that ADD columns: the commit
    * records `df`'s (wider) schema as the new version's, old data
    * files stay untouched, and [[read]] plans them WITH the new
    * schema — parquet fills the missing columns with null, so old
    * rows surface as null in the added columns (the Delta
    * mergeSchema / Iceberg add-column semantics). Existing columns
    * must keep their name AND type (renames/retypes are a rewrite,
    * not an evolution — use [[overwrite]]); time travel still reads
    * each prior version with its OWN narrower schema. Column adds at
    * 100 TB cost one manifest write — no data rewrite. */
  def appendEvolved(spark: SparkSession, path: String, df: DataFrame): Long =
    commit(spark, path, "append-evolve", _ => Some(df),
      (head, nf) => head.files ++ nf,
      (head, _) => {
        head.schema.foreach { f =>
          val n = df.schema.find(_.name == f.name)
          require(n.isDefined && n.get.dataType == f.dataType,
            s"appendEvolved: existing column ${f.name}: ${f.dataType} " +
            "must keep its name and type; renames/retypes need overwrite")
        }
        df.schema
      })

  /** Logically replace the table's contents (the old version stays
    * readable — this is where snapshot semantics beat v1 overwrite,
    * which destroyed the previous data mid-write). The schema may
    * change; each version carries its own. */
  def overwrite(spark: SparkSession, path: String, df: DataFrame,
                operation: String = "overwrite"): Long =
    commit(spark, path, operation, _ => Some(df),
      (_, nf) => nf, (_, _) => df.schema)

  /** Copy-on-write DELETE: rows matching `cond` vanish at the new
    * head; every prior version still has them. (File-granular COW —
    * rewriting only files that contain matches — is the optimization
    * this slice trades away for manifest simplicity.) */
  def deleteWhere(spark: SparkSession, path: String, cond: String): Long =
    commit(spark, path, "delete",
      head => Some(readSnapshot(spark, path, head).filter(s"NOT ($cond)")),
      (_, nf) => nf, (head, _) => head.schema)

  /** COW UPDATE: rows matching `cond` get each column in `sets`
    * re-evaluated (SQL expressions over the row); other rows pass
    * through — the HiveQL/Delta `UPDATE ... SET ... WHERE` verb.
    * Assignments cast back to the column's existing type, so the
    * schema is stable by construction; new columns are [[appendEvolved]]'s
    * job, not UPDATE's. Table-granular copy-on-write like
    * [[deleteWhere]]; range-selective updates on an analyzed column
    * can follow the [[deleteWhereRange]] file-granular pattern. */
  def updateWhere(spark: SparkSession, path: String, cond: String,
                  sets: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{col, expr, when}
    require(sets.nonEmpty, "updateWhere needs at least one assignment")
    commit(spark, path, "update",
      h => {
        val head = readSnapshot(spark, path, h)
        sets.keys.foreach(c => require(head.columns.contains(c),
          s"updateWhere: unknown column $c — adding columns is appendEvolved's job"))
        // all RHS expressions AND the WHERE cond evaluate against the
        // ORIGINAL row (one projection over the untouched head), the
        // SQL/Delta UPDATE contract — a foldLeft of withColumn would
        // let later assignments see earlier assignments' new values,
        // making results depend on Map iteration order
        Some(head.select(head.columns.map { c =>
          sets.get(c) match {
            case Some(e) =>
              when(expr(cond), expr(e).cast(head.schema(c).dataType))
                .otherwise(col(c)).as(c)
            case None => col(c)
          }
        }.toSeq: _*))
      },
      (_, nf) => nf, (h, _) => h.schema)
  }

  /** FILE-GRANULAR copy-on-write DELETE for a range predicate on an
    * [[analyze]]d column — the optimization [[deleteWhere]]'s doc
    * trades away: only files whose stats OVERLAP [lo, hi] are
    * rewritten (minus the matching rows); every other data file is
    * carried into the new manifest untouched, byte-identical. At
    * 100 TB this is the difference between rewriting one day's files
    * and rewriting the table. Files without stats rewrite
    * conservatively (the s17 no-false-prune contract, here
    * no-false-KEEP). Deletion-vector entries carry over: rewritten
    * rows are a subset of the old rows, so the DV anti-join stays
    * correct and idempotent on both kept and rewritten files. */
  def deleteWhereRange(spark: SparkSession, path: String, column: String,
                       lo: Long, hi: Long): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    // version-pinned: both closures derive the touched set from the
    // SAME snapshot, immune to a racing lock-free appendOptimistic
    // moving the head between them (the publish CAS still arbitrates)
    def touched(s: Snapshot): Set[String] =
      prunedOf(spark, path, s.files, column, lo, hi).toSet
    commit(spark, path, "delete",
      // keep rows where the delete predicate is NOT TRUE: a NULL or
      // non-castable value makes between() NULL, and plain filter
      // would silently drop those rows — but only in rewritten files,
      // so survival would depend on physical layout
      s => Some(readFiles(spark, path, s.schema, touched(s).toSeq.sorted)
        .filter(not(coalesce(
          col(column).cast("long").between(lo, hi), lit(false))))),
      (s, nf) => {
        val t = touched(s)
        s.files.filter(fp => isDv(fp) || !t.contains(fp)) ++ nf
      },
      (s, _) => s.schema)
  }

  /** MERGE (keyed upsert) as ONE atomic commit: head rows whose key
    * appears in `updates` are replaced, new keys append — the m02
    * upsert semantics with snapshot isolation on top (readers see the
    * pre-merge or post-merge table, never the partition-by-partition
    * intermediate states v1 `upsertPartitioned` exposes). Copy-on-
    * write at table granularity, like [[deleteWhere]]; `updates` must
    * conform to the head schema. */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    commit(spark, path, "merge",
      h => {
        val head = readSnapshot(spark, path, h)
        Some(head
          .join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(updates.select(head.columns.map(col).toSeq: _*)))
      },
      (_, nf) => nf, (h, _) => h.schema)
  }

  /** SNAPSHOT DIFF: keyed change report between two versions —
    * `added` (key only in `v2`), `removed` (key only in `v1`),
    * `changed` (key in both, any non-key column differing). The
    * time-travel twin of q110's content-level corpus diff: because
    * both sides read immutable manifests, the report is exact and
    * reproducible forever — the audit a mutation pipeline runs after
    * every merge/delete wave. Keys must be unique per version (the
    * merge/upsert contract). One full-outer shuffle join on the key —
    * the minimal plan for a keyed diff. */
  def diff(spark: SparkSession, path: String, v1: Long, v2: Long,
           keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(spark, path, Some(v1))
    val b = read(spark, path, Some(v2))
    val valCols = a.columns.filterNot(keyCols.contains).toSeq
    val av = a.select(keyCols.map(col) :+
      struct(valCols.map(col): _*).as("_va"): _*)
    val bv = b.select(keyCols.map(col) :+
      struct(valCols.map(col): _*).as("_vb"): _*)
    av.join(bv, keyCols, "full_outer")
      .withColumn("change",
        when(col("_va").isNull, "added")
          .when(col("_vb").isNull, "removed")
          .when(col("_va") =!= col("_vb"), "changed"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
      .orderBy(keyCols.map(col): _*)
  }

  /** Roll the head back to `toVersion`'s file set — as a NEW commit,
    * so the rollback itself is in the history and can be rolled back. */
  def rollback(spark: SparkSession, path: String, toVersion: Long): Long = {
    val target = snapshot(spark, path, toVersion)
    commit(spark, path, s"rollback($toVersion)", _ => None,
      (_, _) => target.files, (_, _) => target.schema)
  }

  /** Rewrite the head's file set into `numFiles` files — small-file
    * compaction as one atomic commit, content-identical by
    * construction (same rows, new layout); prior versions keep the
    * uncompacted files. */
  def compact(spark: SparkSession, path: String, numFiles: Int): Long =
    commit(spark, path, "compact",
      h => Some(readSnapshot(spark, path, h).repartition(numFiles)),
      (_, nf) => nf, (h, _) => h.schema)

  /** s22: MERGE-ON-READ DELETE via a deletion vector — the Delta/
    * Iceberg v2 position-delete idea at key granularity: instead of
    * rewriting every surviving file (COW [[deleteWhere]] — at 100 TB
    * that is a full-table write to drop 0.1% of rows), commit ONLY a
    * tombstone-key parquet under `dv/` and let [[read]] subtract it
    * with an anti-join. Write cost ∝ deleted keys, not table size;
    * read cost = one (normally broadcast) anti-join until the next
    * [[compact]]/[[compactZOrder]] materializes the subtraction and
    * clears the DV entries. `keyCols` must identify rows uniquely
    * (the [[merge]] contract), and successive DVs on one table must
    * use the SAME key columns (the reader unions all live DV files).
    * The tombstones are computed from the head AS SEEN UNDER THE
    * COMMIT LOCK — already-deleted rows never re-enter the DV.
    * Time travel is exact: prior versions don't list the new DV. */
  def deleteWhereDV(spark: SparkSession, path: String, cond: String,
                    keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "deleteWhereDV needs at least one key column")
    commit(spark, path, "dv-delete",
      h => Some(readSnapshot(spark, path, h).filter(cond)
        .select(keyCols.map(col): _*).distinct()),
      (h, nf) => h.files ++ nf,
      (h, _) => h.schema,
      payloadDir = "dv")
  }

  /** 16-bit Morton spread: bits of the low 16-bit value move to the
    * even positions (b15…b0 → b15 0 b14 0 … b0). Pure column algebra
    * (shift/mask), fully inside whole-stage codegen — no UDF. */
  private def spread16(c: Column): Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft}
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** s21: Z-ORDER COMPACTION — rewrite the head clustered on the
    * MORTON INTERLEAVE of two numeric columns, so s17's per-file
    * min/max stats prune on BOTH dimensions: a linear sort makes one
    * column's ranges tight and leaves the other spanning every file
    * (no pruning); bit-interleaving the two rank-normalized values
    * gives every file a tight bounding BOX in (a, b) space — the
    * Delta OPTIMIZE ZORDER / Iceberg sort-order idea. Each column is
    * affinely mapped to 0..65535 by its own min/max (one
    * metadata-sized 4-long aggregate), interleaved with shift/mask
    * column algebra (codegen'd, no UDF), then range-partitioned and
    * sorted on the z-value — at 100 TB the rewrite is one full-table
    * shuffle, the same cost as plain [[compact]], paid once at
    * maintenance cadence and amortized over every 2-D-selective scan
    * after it. Re-run [[analyze]] on both columns afterwards (new
    * files need new stats). Deletion vectors are materialized away,
    * like [[compact]]. */
  def compactZOrder(spark: SparkSession, path: String,
                    colA: String, colB: String, numFiles: Int): Long =
    commit(spark, path, s"compact-zorder($colA,$colB)",
      h => {
        import org.apache.spark.sql.functions.{col, max => fmax, min => fmin}
        val df = readSnapshot(spark, path, h)
        val r = df.agg(
          fmin(col(colA).cast("long")), fmax(col(colA).cast("long")),
          fmin(col(colB).cast("long")), fmax(col(colB).cast("long"))).head()
        if (r.isNullAt(0) || r.isNullAt(2))
          // empty table (or all-null cluster column): nothing to order
          Some(df.repartition(numFiles))
        else {
          def norm(c: String, mn: Long, mx: Long): Column = {
            val range = math.max(mx - mn, 1L)
            org.apache.spark.sql.functions.expr(
              s"((CAST(`$c` AS BIGINT) - ${mn}L) * 65535L) div ${range}L")
          }
          val z = org.apache.spark.sql.functions
            .shiftleft(spread16(norm(colA, r.getLong(0), r.getLong(1))), 1)
            .bitwiseOR(spread16(norm(colB, r.getLong(2), r.getLong(3))))
          Some(df.withColumn("_graft_z", z)
            .repartitionByRange(numFiles, col("_graft_z"))
            .sortWithinPartitions("_graft_z")
            .drop("_graft_z"))
        }
      },
      (_, nf) => nf, (h, _) => h.schema)

  /** Hive-style `%xx` path unescape (the partition writer escapes
    * special chars that way). Hand-rolled: URLDecoder would also turn
    * a literal `+` into a space, which hive escaping does NOT. */
  private def unescapePath(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition values encoded in one manifest entry's `k=v` path
    * segments, restricted to keys that are actual columns of `schema`
    * — a file without such segments (flat commit, or a mutation's
    * rewrite) carries its partition column as DATA and contributes no
    * metadata values. */
  private def partValuesOf(relPath: String,
                           schema: StructType): Map[String, String] = {
    val names = schema.fieldNames.toSet
    relPath.split('/').iterator
      .filter(_.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        seg.take(i) -> unescapePath(seg.drop(i + 1))
      }
      .filter { case (k, _) => names(k) }
      .toMap
  }

  /** Plan a scan over `files` (manifest-relative), restoring any
    * partition columns a hive-layout commit moved into the path: each
    * `k=v` group reads with the schema MINUS its partition keys and
    * gets them back as cast literals, then everything unions in the
    * canonical column order. Flat files read as-is. The group count is
    * bounded by the table's distinct partition tuples, never by its
    * commit count. */
  private def readFiles(spark: SparkSession, path: String,
                        schema: StructType, files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val groups = files.groupBy(fp => partValuesOf(fp, schema))
      .toSeq.sortBy(_._1.toSeq.sorted.mkString("\u0000"))
    val parts = groups.map { case (pv, fps) =>
      val paths = fps.map(fp => s"$path/$fp")
      if (pv.isEmpty) spark.read.schema(schema).parquet(paths: _*)
      else {
        val dataSchema = StructType(schema.filterNot(f => pv.contains(f.name)))
        val base = spark.read.schema(dataSchema).parquet(paths: _*)
        pv.foldLeft(base) { case (df, (k, v)) =>
            df.withColumn(k,
              lit(v).cast(schema(schema.fieldIndex(k)).dataType))
          }
          .select(schema.fieldNames.map(col).toSeq: _*)
      }
    }
    parts.reduce(_ unionByName _)
  }

  /** A deletion-vector entry in a manifest's file list: a parquet
    * file of TOMBSTONE KEYS under `dv/` rather than data under
    * `data/`. Readers subtract it; mutations that rewrite content
    * (delete/merge/compact/overwrite) materialize the subtraction and
    * drop the entry. */
  private def isDv(fp: String): Boolean = fp.startsWith("dv/")

  /** Subtract the tombstone keys in `dvFiles` from `base` (one
    * anti-join on the DV's own columns — the DV parquet's schema IS
    * the key set it was written with). No broadcast hint: DVs are
    * normally tiny and AQE will broadcast them, but a pathological
    * tombstone pile after many deletes still plans as a sane shuffle
    * join instead of OOMing the driver; `compact`/`compactZOrder`
    * merge DVs away at maintenance cadence. */
  private def applyDv(spark: SparkSession, path: String,
                      base: DataFrame, dvFiles: Seq[String]): DataFrame = {
    if (dvFiles.isEmpty) return base
    val tomb = spark.read.parquet(dvFiles.map(fp => s"$path/$fp"): _*).distinct()
    base.join(tomb, tomb.columns.toSeq, "left_anti")
  }

  /** Read the head (or `version`) as a DataFrame. Plans directly from
    * the manifest's file list — no directory listing — with that
    * version's own schema; partition columns a partitioned commit
    * encoded in the path come back as columns. Deletion-vector
    * entries ([[deleteWhereDV]]) are applied as an anti-join — the
    * merge-on-read contract. */
  def read(spark: SparkSession, path: String,
           version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, path))
    require(v > 0, s"snapshot table $path does not exist")
    readSnapshot(spark, path, snapshot(spark, path, v))
  }

  /** [[read]] of an already-loaded snapshot `s` of the table at `path`. */
  private def readSnapshot(spark: SparkSession, path: String,
                           s: Snapshot): DataFrame = {
    val (dvs, data) = s.files.partition(isDv)
    applyDv(spark, path, readFiles(spark, path, s.schema, data), dvs)
  }

  /** s18: PARTITIONED snapshot commits — the third slice of the
    * table-format wall (s16's note listed partition-aware manifests
    * as still owed). The commit writes hive-layout `col=value/` dirs
    * (ONE write job — Spark's dynamic partition writer), and because
    * the manifest records full relative paths, every file's partition
    * tuple lives in METADATA: [[readPruned]] drops non-matching files
    * before the scan is even planned — the partition-pruning
    * equivalent of s17's min/max skipping, exact rather than
    * conservative. At 100 TB this is the difference between scanning
    * one date's files and listing a million: pruning is a string
    * filter over the manifest, no directory walk, no footer reads.
    * Partition values must be non-null (hive's default-partition
    * escape hatch is not modeled); a later flat mutation (delete/
    * merge/compact rewrites) keeps the column as data and simply
    * stops contributing prunable metadata — reads stay correct,
    * pruning degrades to conservative, exactly the s17 contract. */
  def createPartitioned(spark: SparkSession, path: String, df: DataFrame,
                        partCols: Seq[String]): Long = {
    require(currentVersion(spark, path) == 0L,
      s"snapshot table $path already exists; use appendPartitioned")
    requirePartCols(df, partCols)
    commit(spark, path, "create", _ => Some(df),
      (_, nf) => nf, (_, _) => df.schema, partCols)
  }

  /** Append with partitioned layout — see [[createPartitioned]].
    * `df` must carry the head schema; new partition values just add
    * new `col=value/` dirs. */
  def appendPartitioned(spark: SparkSession, path: String, df: DataFrame,
                        partCols: Seq[String],
                        operation: String = "append"): Long = {
    requirePartCols(df, partCols)
    commit(spark, path, operation, _ => Some(df),
      (head, nf) => head.files ++ nf, (head, _) => head.schema, partCols)
  }

  private def requirePartCols(df: DataFrame, partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "partCols must be non-empty")
    partCols.foreach(c => require(df.columns.contains(c),
      s"partition column $c not in ${df.columns.mkString(",")}"))
    require(partCols.size < df.columns.length,
      "at least one non-partition column is required")
  }

  /** The file subset [[readPruned]] scans: keeps a file iff its
    * metadata value for `partCol` is in `keep` — or it has none
    * (flat/mutated file: no metadata, conservatively kept, the s17
    * no-false-prune contract). */
  private[graft] def partitionPrunedFiles(spark: SparkSession, path: String,
                                          partCol: String, keep: Seq[String],
                                          version: Option[Long] = None): Seq[String] = {
    val v = version.getOrElse(currentVersion(spark, path))
    val s = snapshot(spark, path, v)
    val ks = keep.toSet
    s.files.filterNot(isDv).filter { fp =>
      partValuesOf(fp, s.schema).get(partCol).forall(ks.contains)
    }
  }

  /** Partition-pruned read: plan the scan ONLY from files whose
    * manifest path carries `partCol` ∈ `keep` (string form — hive
    * path encoding, e.g. `"3"` for int 3). Files without partition
    * metadata are kept conservatively, so the result still needs the
    * predicate applied if such files can exist; on a purely
    * partitioned table the prune is exact. */
  def readPruned(spark: SparkSession, path: String, partCol: String,
                 keep: Seq[String],
                 version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, path))
    require(v > 0, s"snapshot table $path does not exist")
    val s = snapshot(spark, path, v)
    applyDv(spark, path,
      readFiles(spark, path, s.schema,
        partitionPrunedFiles(spark, path, partCol, keep, Some(v))),
      s.files.filter(isDv))
  }

  /** st29: INCREMENTAL CHANGE FEED — the rows each version
    * in `(fromVersion, toVersion]` ADDED, tagged `_commit_version`;
    * the Delta-CDF/Iceberg-incremental-read pattern over the same
    * manifests. Exact because an append-only commit's delta IS its
    * new-file set (data files are immutable and appends only add):
    * per version, read `files − parent.files`. Versions whose
    * operation can rewrite or drop rows (overwrite/delete/merge/
    * compact/rollback) have no file-level row delta — the feed
    * REFUSES them and points at [[diff]], which computes keyed
    * changes between any two versions. A downstream consumer tails
    * `(lastSeen, head]` each cycle and gets every ingested row
    * exactly once, without replaying the table. */
  def readChanges(spark: SparkSession, path: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion < toVersion,
      s"readChanges needs fromVersion < toVersion, got $fromVersion ≥ $toVersion")
    val snaps = (fromVersion + 1 to toVersion)
      .map(v => snapshot(spark, path, v))
    snaps.foreach { s =>
      val appendOnly = s.operation == "create" ||
        s.operation.startsWith("append") || s.operation.startsWith("stream:")
      require(appendOnly,
        s"readChanges: version ${s.version} is '${s.operation}' — its " +
        "file delta is not a row delta; use diff() for keyed changes " +
        "across mutating commits")
    }
    snaps.map { s =>
      val parentFiles =
        if (s.parent <= 0) Set.empty[String]
        else snapshot(spark, path, s.parent).files.toSet
      readFiles(spark, path, s.schema, s.files.filterNot(parentFiles))
        .withColumn("_commit_version", lit(s.version))
      // allowMissingColumns: a feed spanning an append-evolve commit
      // (s23) mixes the narrow and widened schemas — pre-evolution
      // deltas surface null in the added columns, like read() does
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** s17: COLUMN-STAT FILE SKIPPING — the second slice of the
    * table-format wall (s16's note listed it as still owed). `analyze`
    * computes per-FILE min/max of a numeric column for every head
    * file not yet covered and merges them into a sidecar
    * (`_graft_snapshots/stats.<column>`, one `relpath,min,max` line
    * per file). Stats are keyed by FILE, not version: data files are
    * immutable, so a stat line stays valid for every version that
    * references the file, and appends only ever ADD lines —
    * `analyze` is incremental by construction. `prunedFiles` keeps
    * files whose [min,max] overlaps the predicate range plus any file
    * with no stats yet (conservative — never a false prune), and
    * `readPruned` plans the scan from that subset. The Iceberg
    * manifest-stats design scoped to one column; run `analyze` at
    * compaction cadence like the other lake maintenance. */
  def analyze(spark: SparkSession, path: String, column: String): Int =
    graft.operators.LakeLock.withWriter(spark, lockName(spark, path)) {
      import org.apache.spark.sql.functions.{col, input_file_name, min => fmin, max => fmax}
      val f = LakeFiles.fs(spark, path)
      val sp = new Path(snapDir(path), s"stats.$column")
      val existing: Map[String, (Long, Long)] =
        if (f.exists(sp))
          LakeFiles.read(f, sp).split("\n").filter(_.nonEmpty).map { l =>
            val a = l.split(",")
            a(0) -> (a(1).toLong, a(2).toLong)
          }.toMap
        else Map.empty
      val head = snapshot(spark, path, currentVersion(spark, path))
      // deletion vectors carry tombstone keys, not table rows — no stats
      val todo = head.files.filterNot(isDv).filterNot(existing.contains)
      if (todo.isEmpty) 0
      else {
        val stats = spark.read.schema(head.schema)
          .parquet(todo.map(fp => s"$path/$fp"): _*)
          .groupBy(input_file_name().as("f"))
          .agg(fmin(col(column).cast("long")).as("mn"),
            fmax(col(column).cast("long")).as("mx"))
          .collect()
          .map { r =>
            val uri = r.getString(0)
            val rel = todo.find(fp => uri.endsWith(fp))
              .getOrElse(sys.error(s"unmatched stats file $uri"))
            rel -> (r.getLong(1), r.getLong(2))
          }.toMap
        val merged = existing ++ stats
        val body = merged.toSeq.sorted
          .map { case (fp, (mn, mx)) => s"$fp,$mn,$mx" }.mkString("\n")
        LakeFiles.write(f, sp, body, overwrite = true)
        stats.size
      }
    }

  /** The head's file list narrowed by the stats sidecar to files that
    * can contain `column` ∈ [lo, hi]; files without stats are kept
    * (conservative). */
  def prunedFiles(spark: SparkSession, path: String, column: String,
                  lo: Long, hi: Long): Seq[String] =
    prunedOf(spark, path,
      snapshot(spark, path, currentVersion(spark, path)).files,
      column, lo, hi)

  /** [[prunedFiles]] against an EXPLICIT file list — version-pinned,
    * so a commit closure's view can't drift under a racing
    * lock-free appendOptimistic. */
  private def prunedOf(spark: SparkSession, path: String,
                       files: Seq[String], column: String,
                       lo: Long, hi: Long): Seq[String] = {
    val f = LakeFiles.fs(spark, path)
    val sp = new Path(snapDir(path), s"stats.$column")
    if (!f.exists(sp)) files.filterNot(isDv)
    else {
      val stats = LakeFiles.read(f, sp).split("\n").filter(_.nonEmpty).map { l =>
        val a = l.split(","); a(0) -> (a(1).toLong, a(2).toLong)
      }.toMap
      files.filterNot(isDv).filter { fp =>
        stats.get(fp) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None           => true
        }
      }
    }
  }

  /** Scan only the files [[prunedFiles]] keeps, with the residual
    * range filter applied (stats prune at file granularity; the
    * filter finishes the job row-wise). */
  def readPruned(spark: SparkSession, path: String, column: String,
                 lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val head = snapshot(spark, path, currentVersion(spark, path))
    // readFiles, not a direct parquet plan: on an s18 partitioned
    // table the partition column lives in the path, and a direct scan
    // would resurrect it as nulls
    applyDv(spark, path,
      readFiles(spark, path, head.schema,
        prunedFiles(spark, path, column, lo, hi)),
      head.files.filter(isDv))
      .filter(col(column).cast("long").between(lo, hi))
  }

  /** Drop all history older than the last `keepLast` versions and
    * delete data files no surviving version references. The one
    * operation that breaks time travel (for the expired range only) —
    * run it like Iceberg's `expire_snapshots`, as lake maintenance.
    * Returns (manifests dropped, data files deleted). */
  def expire(spark: SparkSession, path: String,
             keepLast: Int, orphanGraceMs: Long = 3600000L): (Int, Int) =
    graft.operators.LakeLock.withWriter(spark, lockName(spark, path)) {
      val f = LakeFiles.fs(spark, path)
      val all = history(spark, path)
      val cut = all.map(_.version).sorted.dropRight(keepLast)
      if (cut.isEmpty) (0, 0)
      else {
        val keep = all.filterNot(s => cut.contains(s.version))
        val live = keep.flatMap(_.files).toSet
        val dead = all.filter(s => cut.contains(s.version))
          .flatMap(_.files).toSet -- live
        dead.foreach(fp => f.delete(new Path(path, fp), false))
        cut.foreach(v => f.delete(manifestPath(path, v), false))
        // sweep unreferenced data dirs: emptied by the per-file deletes
        // above, or orphaned by a failed commit that never published
        // its manifest. An OPTIMISTIC append stages its data dir
        // before its manifest exists, so only dirs older than
        // `orphanGraceMs` are swept — an in-flight writer's staging
        // can't be mistaken for an orphan.
        val referenced = keep.flatMap(_.files).map(_.split("/")(1)).toSet
        val cutoff = System.currentTimeMillis() - orphanGraceMs
        Seq("data", "dv").foreach { pd =>
          val dataDir = new Path(path, pd)
          if (f.exists(dataDir)) {
            f.listStatus(dataDir).toSeq
              .filter(s => !referenced.contains(s.getPath.getName) &&
                s.getModificationTime < cutoff)
              .foreach(s => f.delete(s.getPath, true))
          }
        }
        (cut.size, dead.size)
      }
    }
}
