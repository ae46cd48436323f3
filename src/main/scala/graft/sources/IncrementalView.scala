package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** mv02: INCREMENTAL materialized-view maintenance over an APPEND-ONLY
  * [[SnapshotTable]] base — the composition mv01 deliberately deferred,
  * now built from pieces that are each verified on their own: the st29
  * change feed supplies exactly the rows each base commit added, and
  * classic mergeable-aggregate algebra (count/sum/min/max — the
  * algebraic class of Gray et al.'s data-cube taxonomy) folds the
  * delta's aggregate into the stored one. Refresh cost is
  * O(delta + |view|), NEVER O(base) — at 100 TB that is the entire
  * point: a dashboard aggregate over an append-only ingest table
  * refreshes from the last few commits' files while mv01's REBUILD
  * would rescan the corpus.
  *
  * Consistency design: the view's high-watermark (the last base
  * version folded in) is stored in the VIEW's own manifest operation
  * tag (`imv:<baseVersion>`), so data and watermark commit in ONE
  * atomic s16 publish — a crash between "data written" and "watermark
  * advanced" cannot exist, and time travel on the view reproduces both
  * the numbers AND the base version they covered.
  *
  * Safety contract: the change feed REFUSES ranges containing a
  * mutating base commit (delete/merge/compact/overwrite — a file delta
  * is not a row delta there), so [[refresh]] on a mutated base fails
  * loudly naming [[fullRefresh]]; it can never silently double-count
  * or miss rows. AVG and other non-algebraic aggregates are out of
  * scope by construction — store sum+count and divide at read time.
  *
  * Null-key groups merge correctly: the old/delta join is null-safe
  * (`<=>`), matching GROUP BY's null-equality semantics. */
object IncrementalView {

  /** One aggregate column: `fn` ∈ count|sum|min|max over base column
    * `col` (ignored for count), materialized as `as`. */
  final case class Agg(fn: String, col: String, as: String)

  private def defPath(path: String) = new Path(path, "_graft_imv_def")

  /** mv03: optional STATIC-DIMENSION enrichment join applied before
    * the aggregate — the SPJG view class (select-project-join-group).
    * Valid incrementally because a join against a FIXED dimension
    * distributes over union: agg(join(base ∪ delta, dim)) =
    * merge(agg(join(base, dim)), agg(join(delta, dim))). The
    * dimension is pinned by PATH at create time; repointing or
    * rewriting it silently invalidates the view (that is the static
    * contract — a changing dim needs [[fullRefresh]]). */
  final case class Dim(path: String, joinKey: String)

  private final case class Def(basePath: String, keys: Seq[String],
                               aggs: Seq[Agg], dim: Option[Dim] = None)

  /** Def-file format version header. v2 fixed the dim line's field
    * order (`dim,joinKey,path` — path last so the bounded 3-field
    * split leaves comma-containing paths intact); files WITHOUT this
    * header predate the header and carry the ambiguous order, so
    * [[readDef]] refuses them loudly instead of silently transposing
    * path and join key (r14 ADVICE). */
  private final val DefHeader = "graft-imv-v2"

  private def writeDef(spark: SparkSession, path: String, d: Def): Unit = {
    val f = LakeFiles.fs(spark, path)
    require(!f.exists(defPath(path)), s"incremental view $path exists")
    // the dim line puts the PATH last so the 3-field split leaves an
    // arbitrary (comma-containing) path intact; the join key is the
    // bounded field and must stay comma-free
    d.dim.foreach(x => require(!x.joinKey.contains(","),
      s"incremental view dim join key may not contain ',': ${x.joinKey}"))
    d.aggs.foreach(a => require(a.fn != "dim",
      "aggregate fn name 'dim' collides with the dimension line tag"))
    val body = (Seq(DefHeader, d.basePath, d.keys.mkString(",")) ++
      d.dim.map(x => s"dim,${x.joinKey},${x.path}").toSeq ++
      d.aggs.map(a => s"${a.fn},${a.col},${a.as}")).mkString("\n")
    LakeFiles.write(f, defPath(path), body, overwrite = false)
  }

  private def readDef(spark: SparkSession, path: String): Def = {
    val allLines = LakeFiles.read(LakeFiles.fs(spark, path), defPath(path))
      .split("\n", -1).toSeq
    require(allLines.headOption.contains(DefHeader),
      s"incremental view def at $path is not a $DefHeader file " +
        s"(got '${allLines.headOption.getOrElse("")}'): written by a " +
        "pre-versioning build whose dim field order is ambiguous — " +
        "re-create the view")
    val lines = allLines.tail
    val rest = lines.drop(2).filter(_.nonEmpty)
    val (dimLines, aggLines) = rest.partition(_.startsWith("dim,"))
    Def(lines(0), lines(1).split(",").toSeq.filter(_.nonEmpty),
      aggLines.map { l =>
        val p = l.split(",", 3); Agg(p(0), p(1), p(2))
      },
      dimLines.headOption.map { l =>
        val p = l.split(",", 3); Dim(path = p(2), joinKey = p(1))
      })
  }

  private def aggCols(aggs: Seq[Agg]): Seq[Column] = aggs.map {
    case Agg("count", _, as) => count(lit(1)).cast("long").as(as)
    case Agg("sum", c, as)   => sum(col(c)).as(as)
    case Agg("min", c, as)   => min(col(c)).as(as)
    case Agg("max", c, as)   => max(col(c)).as(as)
    case Agg(fn, _, _) => throw new IllegalArgumentException(
      s"incremental view supports count/sum/min/max (algebraic " +
      s"aggregates), not '$fn' — store the pieces (e.g. sum+count for " +
      "avg) and combine at read time")
  }

  private def aggregate(df: DataFrame, d: Def): DataFrame = {
    val enriched = d.dim match {
      case None => df
      case Some(Dim(p, k)) =>
        // dims are small by definition — ride a broadcast, never
        // shuffle the delta (or the base rebuild) for an enrichment
        df.join(broadcast(df.sparkSession.read.parquet(p)), Seq(k))
    }
    val cols = aggCols(d.aggs)
    enriched.groupBy(d.keys.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Merge the stored aggregate with the delta's aggregate: null-safe
    * full-outer join on the keys, then the algebraic combine per
    * column (missing side passes the other through — new groups
    * appear, untouched groups persist unchanged). */
  private def merge(old: DataFrame, delta: DataFrame, d: Def): DataFrame = {
    val o = old.alias("o")
    val n = delta.alias("n")
    val cond = d.keys.map(k => col(s"o.$k") <=> col(s"n.$k"))
      .reduce(_ && _)
    val keyCols = d.keys.map(k => coalesce(col(s"o.$k"), col(s"n.$k")).as(k))
    val mergedAggs = d.aggs.map { a =>
      val ov = col(s"o.${a.as}"); val nv = col(s"n.${a.as}")
      val combined = a.fn match {
        case "count" | "sum" => ov + nv
        case "min"           => least(ov, nv)
        case "max"           => greatest(ov, nv)
      }
      when(ov.isNull, nv).when(nv.isNull, ov).otherwise(combined).as(a.as)
    }
    o.join(n, cond, "full_outer").select(keyCols ++ mergedAggs: _*)
  }

  private def watermark(spark: SparkSession, path: String,
                        atVersion: Long): Long = {
    val op = SnapshotTable.snapshot(spark, path, atVersion).operation
    require(op.startsWith("imv:"),
      s"$path v$atVersion has operation '$op' — not an incremental view")
    op.stripPrefix("imv:").toLong
  }

  /** Every refresh (mv02 and mv04) serializes under this view-level
    * writer lock — a DIFFERENT key from the publish lock `SnapshotTable
    * .overwrite` takes internally, because the race it closes is wider
    * than the publish: a refresh reads the view head twice (watermark
    * parse + stored-aggregate read) and folds a delta computed against
    * that head, so TWO concurrent refreshes could each fold the same
    * delta over the other's published state (double-count). Contention
    * throws [[graft.operators.LakeLock.Contended]]; streaming callers
    * skip on it (the next refresh folds everything unfolded — see
    * st39), batch callers retry or surface it. */
  private[graft] def refreshLock(spark: SparkSession, mvPath: String): String =
    "imv_" + SnapshotTable.lockName(spark, mvPath)

  /** Create the view over `basePath` (must already exist): aggregate
    * the base head and publish as v1 tagged with the base watermark.
    * Keys must be non-empty (a global aggregate is a one-constant-key
    * view). */
  def create(spark: SparkSession, mvPath: String, basePath: String,
             keys: Seq[String], aggs: Seq[Agg],
             dim: Option[Dim] = None): Long = {
    require(keys.nonEmpty, "incremental view needs at least one group key")
    aggCols(aggs) // validate fns before any write
    val d = Def(basePath, keys, aggs, dim)
    writeDef(spark, mvPath, d)
    val baseV = SnapshotTable.currentVersion(spark, basePath)
    SnapshotTable.create(spark, mvPath,
      aggregate(SnapshotTable.read(spark, basePath, Some(baseV)), d),
      s"imv:$baseV")
  }

  /** Incremental refresh: fold every base commit past the watermark
    * into the stored aggregate via the st29 change feed. No-op (same
    * version back) when the base hasn't moved. Fails loudly — naming
    * [[fullRefresh]] — if the range contains a mutating base commit;
    * it never guesses. */
  def refresh(spark: SparkSession, mvPath: String): Long =
    graft.operators.LakeLock.withWriter(spark, refreshLock(spark, mvPath)) {
      val d = readDef(spark, mvPath)
      // pin ONE view version for both the watermark parse and the
      // stored-aggregate read (the two must describe the same state;
      // the refresh lock already excludes concurrent refreshes, the pin
      // additionally hardens against any out-of-band overwrite)
      val mvV = SnapshotTable.currentVersion(spark, mvPath)
      val from = watermark(spark, mvPath, mvV)
      val baseV = SnapshotTable.currentVersion(spark, d.basePath)
      if (baseV == from) mvV
      else {
        val delta =
          try SnapshotTable.readChanges(spark, d.basePath, from, baseV)
          catch {
            case e: IllegalArgumentException => throw new IllegalArgumentException(
              s"incremental refresh of $mvPath blocked: ${e.getMessage}; " +
              "run IncrementalView.fullRefresh to rebuild from the base head",
              e)
          }
        val merged = merge(read(spark, mvPath, Some(mvV)),
          aggregate(delta.drop("_commit_version"), d), d)
        SnapshotTable.overwrite(spark, mvPath, merged, s"imv:$baseV")
      }
    }

  /** Rebuild from the base head (the mv01 REBUILD semantics) and reset
    * the watermark — the escape hatch after base mutations. */
  def fullRefresh(spark: SparkSession, mvPath: String): Long = {
    val d = readDef(spark, mvPath)
    val baseV = SnapshotTable.currentVersion(spark, d.basePath)
    SnapshotTable.overwrite(spark, mvPath,
      aggregate(SnapshotTable.read(spark, d.basePath, Some(baseV)), d),
      s"imv:$baseV")
  }

  /** The current materialization (or any past `version` — each carries
    * the base watermark it covered in its manifest op tag). */
  def read(spark: SparkSession, mvPath: String,
           version: Option[Long] = None): DataFrame =
    SnapshotTable.read(spark, mvPath, version)

  /** Is the view at `mvPath` a FACT⋈FACT join view (mv04) rather than
    * a single-base view (mv02/mv03)? The sql08 REFRESH statement keys
    * its dispatch on this. */
  def isJoinView(spark: SparkSession, mvPath: String): Boolean =
    LakeFiles.fs(spark, mvPath).exists(def2Path(mvPath))

  // ------------------------------------------------------------- mv04

  /** mv04: incremental aggregate over a FACT ⋈ FACT equi-join — the
    * delta-join class mv03 scoped out (there ONE side had to be a
    * pinned static dimension). Both bases are append-only s16 tables;
    * the refresh folds the classic three-term row delta
    *
    *   Δ(A⋈B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB
    *
    * (exact for append-only multisets because a join distributes over
    * union) into the stored aggregate with the same algebraic merge
    * mv02 uses. TWO watermarks ride the view's manifest op tag
    * (`imv2:<vA>:<vB>`), so data and both watermarks still commit in
    * one atomic s16 publish, and A_old/B_old are TIME-TRAVEL reads at
    * exactly those versions — a concurrent append to either base
    * during refresh cannot skew the delta.
    *
    * Refresh cost is O(Δ ⋈ base) — the two cross terms each join the
    * delta (broadcast-hinted only while it counts under
    * [[DeltaBroadcastMaxRows]]; a multi-commit catch-up range takes
    * the shuffle join) against one base's pre-delta snapshot, never
    * base ⋈ base. That is the honest lower bound for
    * join-view maintenance (each new A row must meet every matching
    * OLD B row); at 100 TB the base-side scans prune like any keyed
    * broadcast join over a partitioned lake table. The same change-
    * feed safety contract applies per base: a mutating commit in
    * either range blocks with a loud pointer to [[fullRefreshJoin]].
    *
    * Column contract: `joinKeys` are the shared equi-join columns; all
    * OTHER column names must be disjoint between A and B (the standard
    * join-view discipline — alias before create if they collide). */
  private final case class Def2(basePathA: String, basePathB: String,
                                joinKeys: Seq[String], keys: Seq[String],
                                aggs: Seq[Agg])

  private final val Def2Header = "graft-imv2-v1"

  /** Max distinct values per join-key column collected driver-side for
    * refreshJoin's base-scan pruning — the m02 partition-list class of
    * collect (commit-key-sized, never data-sized); past the cap the
    * column's IN filter is skipped and that term degrades to the plain
    * base scan. */
  private final val KeyPruneCap = 10000

  private def def2Path(path: String) = new Path(path, "_graft_imv2_def")

  private def writeDef2(spark: SparkSession, path: String, d: Def2): Unit = {
    val f = LakeFiles.fs(spark, path)
    require(!f.exists(def2Path(path)), s"incremental join view $path exists")
    val body = (Seq(Def2Header, d.basePathA, d.basePathB,
      d.joinKeys.mkString(","), d.keys.mkString(",")) ++
      d.aggs.map(a => s"${a.fn},${a.col},${a.as}")).mkString("\n")
    LakeFiles.write(f, def2Path(path), body, overwrite = false)
  }

  private def readDef2(spark: SparkSession, path: String): Def2 = {
    val lines = LakeFiles.read(LakeFiles.fs(spark, path), def2Path(path))
      .split("\n", -1).toSeq
    require(lines.headOption.contains(Def2Header),
      s"not a $Def2Header def at $path: '${lines.headOption.getOrElse("")}'")
    Def2(lines(1), lines(2), lines(3).split(",").toSeq.filter(_.nonEmpty),
      lines(4).split(",").toSeq.filter(_.nonEmpty),
      lines.drop(5).filter(_.nonEmpty).map { l =>
        val p = l.split(",", 3); Agg(p(0), p(1), p(2))
      })
  }

  private def aggregateJoin(a: DataFrame, b: DataFrame, d: Def2): DataFrame = {
    val cols = aggCols(d.aggs)
    a.join(b, d.joinKeys).groupBy(d.keys.map(col): _*)
      .agg(cols.head, cols.tail: _*)
  }

  private def watermark2(spark: SparkSession, path: String,
                         atVersion: Long): (Long, Long) = {
    val op = SnapshotTable.snapshot(spark, path, atVersion).operation
    require(op.startsWith("imv2:"),
      s"$path v$atVersion has operation '$op' — not an incremental join view")
    val parts = op.stripPrefix("imv2:").split(":")
    (parts(0).toLong, parts(1).toLong)
  }

  /** Max delta rows that still ride a `broadcast()` hint in
    * [[refreshJoin]]'s cross terms. A delta is usually commit-sized,
    * but nothing guarantees it: a backfill commit, or a st39 stream
    * catching up after downtime, hands refreshJoin a MULTI-commit
    * range — and an unconditional broadcast hint on an unbounded frame
    * is an executor/driver OOM, not a slow query (the q46 lesson:
    * ceiling + distributed fallback, never hint blind). Past the cap
    * the term degrades to a plain shuffle join — AQE still broadcasts
    * at runtime if the delta turns out small enough, so the cap only
    * removes the FORCED hint, never a beneficial one. */
  val DeltaBroadcastMaxRows: Long = 2L * 1000 * 1000

  /** Create the join view: aggregate A@vA ⋈ B@vB, publish as v1 tagged
    * with both base watermarks. */
  def createJoin(spark: SparkSession, mvPath: String,
                 basePathA: String, basePathB: String,
                 joinKeys: Seq[String], keys: Seq[String],
                 aggs: Seq[Agg]): Long = {
    require(joinKeys.nonEmpty, "join view needs at least one join key")
    require(keys.nonEmpty, "incremental view needs at least one group key")
    aggCols(aggs) // validate fns before any write
    val d = Def2(basePathA, basePathB, joinKeys, keys, aggs)
    writeDef2(spark, mvPath, d)
    val vA = SnapshotTable.currentVersion(spark, basePathA)
    val vB = SnapshotTable.currentVersion(spark, basePathB)
    SnapshotTable.create(spark, mvPath,
      aggregateJoin(SnapshotTable.read(spark, basePathA, Some(vA)),
        SnapshotTable.read(spark, basePathB, Some(vB)), d),
      s"imv2:$vA:$vB")
  }

  /** Incremental refresh of a join view: three delta terms, one merge,
    * one atomic publish advancing BOTH watermarks. No-op when neither
    * base moved. */
  def refreshJoin(spark: SparkSession, mvPath: String,
                  broadcastMaxRows: Long = DeltaBroadcastMaxRows): Long =
    graft.operators.LakeLock.withWriter(spark, refreshLock(spark, mvPath)) {
    val d = readDef2(spark, mvPath)
    // ONE pinned view version serves both the watermark parse and the
    // stored-aggregate read below — under the refresh lock nothing can
    // publish between them, and the pin keeps the two consistent even
    // against an out-of-band overwrite
    val mvV = SnapshotTable.currentVersion(spark, mvPath)
    val (fromA, fromB) = watermark2(spark, mvPath, mvV)
    val vA = SnapshotTable.currentVersion(spark, d.basePathA)
    val vB = SnapshotTable.currentVersion(spark, d.basePathB)
    if (vA == fromA && vB == fromB) mvV
    else {
    def changes(path: String, from: Long, to: Long): Option[DataFrame] =
      if (to == from) None
      else Some(
        try SnapshotTable.readChanges(spark, path, from, to)
          .drop("_commit_version")
        catch {
          case e: IllegalArgumentException => throw new IllegalArgumentException(
            s"incremental refresh of $mvPath blocked: ${e.getMessage}; " +
            "run IncrementalView.fullRefreshJoin to rebuild from both heads",
            e)
        })
    val dA = changes(d.basePathA, fromA, vA)
    val dB = changes(d.basePathB, fromB, vB)
    // SIZE-GATED broadcast hints: one count per delta (commit-file
    // metadata-cheap) decides hint vs plain join — see
    // [[DeltaBroadcastMaxRows]] for why the unconditional hint was a
    // 100×-scale hazard
    val nA = dA.map(_.count()).getOrElse(0L)
    val nB = dB.map(_.count()).getOrElse(0L)
    def hinted(df: DataFrame, n: Long): DataFrame =
      if (n <= broadcastMaxRows) broadcast(df) else df
    // Key-prune the base side of each cross term: the delta's DISTINCT
    // join-key values are commit-sized, so an IN predicate per key
    // column is a NECESSARY condition of the equi-join that reaches
    // the base's parquet scan as a pushed filter — row groups holding
    // no matched key never decompress. This is what turns "O(Δ ⋈
    // base)" from a full base scan into a scan of the files that can
    // match. Sound as a PRE-filter (the join still applies the exact
    // multi-column condition); skipped per column past `KeyPruneCap`
    // distinct values, where the IN list itself would stop being
    // metadata-sized.
    def keyPrune(base: DataFrame, delta: DataFrame): DataFrame =
      d.joinKeys.foldLeft(base) { (acc, k) =>
        val vals = delta.select(col(k)).distinct()
          .limit(KeyPruneCap + 1).collect().map(_.get(0))
        if (vals.length > KeyPruneCap || vals.contains(null)) acc
        else acc.filter(col(k).isin(vals.toIndexedSeq: _*))
      }
    val aOld = SnapshotTable.read(spark, d.basePathA, Some(fromA))
    val bOld = SnapshotTable.read(spark, d.basePathB, Some(fromB))
    // ROW-level delta terms union BEFORE the one aggregate — one
    // partial-agg job and one algebraic merge instead of three of each
    // (ProbeR18: the refresh's fixed cost is job-count-dominated at
    // small deltas, so term fan-in is the lever). Delta sides ride
    // SIZE-GATED broadcasts; A columns lead in every term so
    // unionByName is positional-safe too.
    val terms = Seq(
      dA.map(da => hinted(da, nA).join(keyPrune(bOld, da), d.joinKeys)),
      dB.map(db => keyPrune(aOld, db).join(hinted(db, nB), d.joinKeys)),
      (dA, dB) match {
        // Δ⋈Δ: hint the SMALLER side when it fits; both over the cap →
        // plain shuffle join (AQE re-plans it at runtime if warranted)
        case (Some(da), Some(db)) =>
          Some(if (nA <= math.min(nB, broadcastMaxRows))
            broadcast(da).join(db, d.joinKeys)
          else da.join(hinted(db, nB), d.joinKeys))
        case _ => None
      }).flatten
    val deltaRows = terms.reduce(_.unionByName(_))
    val folded = aggregate(deltaRows, Def(d.basePathA, d.keys, d.aggs))
    val merged = merge(read(spark, mvPath, Some(mvV)), folded,
      Def(d.basePathA, d.keys, d.aggs))
    SnapshotTable.overwrite(spark, mvPath, merged, s"imv2:$vA:$vB")
    }
  }

  /** Rebuild from both base heads — the escape hatch after a mutating
    * commit on either base. */
  def fullRefreshJoin(spark: SparkSession, mvPath: String): Long = {
    val d = readDef2(spark, mvPath)
    val vA = SnapshotTable.currentVersion(spark, d.basePathA)
    val vB = SnapshotTable.currentVersion(spark, d.basePathB)
    SnapshotTable.overwrite(spark, mvPath,
      aggregateJoin(SnapshotTable.read(spark, d.basePathA, Some(vA)),
        SnapshotTable.read(spark, d.basePathB, Some(vB)), d),
      s"imv2:$vA:$vB")
  }
}
