package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** Versioned parquet tables with BigQuery-style time travel.
  *
  * BigQuery keeps a 7-day change history on every table and exposes
  * it as `SELECT ... FROM t FOR SYSTEM_TIME AS OF <timestamp>` — the
  * daily "what did the report read yesterday / undo the bad load"
  * verb. Plain parquet directories have no history, so this source
  * adds the minimal copy-on-write commit log that supports it:
  *
  * {{{
  * table/
  *   _graft_log/v00000001.json   one tiny manifest per commit:
  *                               {version, commit_ts_us, action,
  *                                live: [data dirs]}
  *   data/commit=00000001/...    immutable files written by commit 1
  * }}}
  *
  * Each commit writes ONLY its own new files into a fresh
  * `data/commit=N` directory and then one manifest naming the data
  * directories live at that version — an APPEND's manifest is the
  * previous live set plus its own directory (no byte of existing data
  * is rewritten or copied: copy-on-write at commit granularity, the
  * Delta/Iceberg snapshot idea without their jars), an OVERWRITE's
  * manifest is its own directory alone (the old files stay on disk,
  * owned by history). Reading a version is `Tables.parquet` over
  * the manifest's live list — the log, not a directory listing,
  * scopes the scan, so stale files from overwritten versions are
  * never touched and `readAsOf` needs no per-file timestamps.
  *
  * Scale: a commit costs the new data's write + one ~100-byte
  * manifest; reads open one manifest then scan exactly the live data.
  * History grows by retained overwrites only — `vacuum` drops
  * versions older than a horizon and deletes data directories no
  * retained manifest references (BigQuery's 7-day horizon made
  * explicit).
  *
  * Commit timestamps are caller-suppliable (`commitTsUs`) and must be
  * strictly increasing — deterministic tests and replayed loads pin
  * them; the default is wall-clock micros bumped past the previous
  * commit. Single-writer per table, like every persisted artifact in
  * this engine (README "Isolation contract"): the manifest write is
  * create-exclusive, so a racing second writer fails loudly rather
  * than corrupting the log.
  *
  * Mutating verbs route through the existing statement surface: run
  * the A20 DELETE/UPDATE (snapshot semantics) or A15 MERGE against
  * `read(...)` and land the result with [[overwrite]] — history keeps
  * the pre-image readable AS OF any earlier time.
  */
object Versioned {

  final case class Commit(version: Long, commitTsUs: Long, action: String,
                          live: Seq[String])

  private val LogDir = "_graft_log"
  private val DataDir = "data"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(table: String, v: Long): Path =
    new Path(s"$table/$LogDir/v${"%08d".format(v)}.json")

  // attempt-UNIQUE data directory: the version prefix keeps listings
  // readable, the random suffix means two RACING committers of the
  // same version never share a directory — each writes its own files,
  // the create-exclusive manifest picks the winner, and the loser's
  // directory is debris no manifest references (reclaimed by
  // [[vacuum]]'s sweep). A shared version-keyed dir would let the
  // loser's part-files pollute the winner's referenced data.
  private def dataSubdir(v: Long): String =
    s"$DataDir/commit=${"%08d".format(v)}-${java.util.UUID.randomUUID().toString.take(8)}"

  /** All commits in version order (empty for a directory with no log). */
  def commits(spark: SparkSession, table: String): Seq[Commit] = {
    val f = fs(spark, table)
    val log = new Path(s"$table/$LogDir")
    if (!f.exists(log)) return Seq.empty
    val files = f.listStatus(log).map(_.getPath).filter(_.getName.matches("v\\d{8}\\.json"))
    files.sortBy(_.getName).map { p =>
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      parseManifest(txt)
    }.toSeq
  }

  // manifests are written by writeManifest below — a flat object with
  // three scalars and one string array — so a tiny field scanner
  // (quote-aware for the live entries) is enough; no JSON library
  // semantics are relied on
  private def parseManifest(txt: String): Commit = {
    def longField(name: String): Long = {
      val m = ("\"" + name + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(txt)
      require(m.isDefined, s"corrupt manifest: missing $name in $txt")
      m.get.group(1).toLong
    }
    def strField(name: String): String = {
      val m = ("\"" + name + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(txt)
      require(m.isDefined, s"corrupt manifest: missing $name in $txt")
      m.get.group(1)
    }
    val liveM = "\"live\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
    require(liveM.isDefined, s"corrupt manifest: missing live in $txt")
    val live = "\"([^\"]*)\"".r.findAllMatchIn(liveM.get.group(1)).map(_.group(1)).toSeq
    Commit(longField("version"), longField("commit_ts_us"), strField("action"), live)
  }

  private def writeManifest(f: FileSystem, table: String, c: Commit): Unit = {
    val json =
      s"""{"version":${c.version},"commit_ts_us":${c.commitTsUs},"action":"${c.action}",""" +
        s""""live":[${c.live.map(d => s""""$d"""").mkString(",")}]}"""
    // create-exclusive: two racing writers of the same version — the
    // second create(…, overwrite=false) throws instead of clobbering
    val out = f.create(manifestPath(table, c.version), false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private def nextCommit(spark: SparkSession, table: String,
                         commitTsUs: Option[Long]): (Long, Long, Seq[Commit]) = {
    val prior = commits(spark, table)
    val v = prior.lastOption.map(_.version + 1).getOrElse(0L)
    val floor = prior.lastOption.map(_.commitTsUs).getOrElse(Long.MinValue)
    val ts = commitTsUs.getOrElse(math.max(System.currentTimeMillis() * 1000L, floor + 1))
    require(ts > floor,
      s"commit_ts_us must be strictly increasing: $ts <= previous $floor " +
        "(AS OF resolution orders commits by timestamp)")
    (v, ts, prior)
  }

  /** Append `df` as a new commit: writes only the new files plus one
    * manifest — existing data is not touched (copy-on-write).
    * `label` names the verb in the manifest (history observability);
    * the live-set rule follows the append disposition regardless.
    */
  def append(df: DataFrame, table: String, commitTsUs: Option[Long] = None,
             label: String = "append"): Commit =
    commitWrite(df, table, append = true, label, commitTsUs)

  /** Replace the table's content as a new commit. Old versions stay
    * readable AS OF their time until [[vacuum]].
    */
  def overwrite(df: DataFrame, table: String, commitTsUs: Option[Long] = None,
                label: String = "overwrite"): Commit =
    commitWrite(df, table, append = false, label, commitTsUs)

  private def commitWrite(df: DataFrame, table: String, append: Boolean,
                          action: String, commitTsUs: Option[Long]): Commit =
    finishStaged(df.sparkSession, stage(df, table, append, action, commitTsUs))

  /** A data write whose manifest has not landed yet — invisible to
    * every reader (a data dir without a manifest is debris) until
    * [[finishStaged]] makes it the table's next version.
    */
  final case class Staged(table: String, commit: Commit)

  /** Phase one of a commit: write the DATA only (the expensive part).
    * The table is completely unchanged for readers until
    * [[finishStaged]] writes the manifest; an abandoned stage is
    * unreferenced debris, reclaimed by [[vacuum]]'s sweep. Multi-table
    * transactions stage every table first, then land the (tiny,
    * metadata-only) manifests together — shrinking the partial-
    * visibility window to the manifest loop alone.
    */
  private[graft] def stage(df: DataFrame, table: String, append: Boolean,
                           action: String, commitTsUs: Option[Long]): Staged = {
    val spark = df.sparkSession
    val (v, ts, prior) = nextCommit(spark, table, commitTsUs)
    val sub = dataSubdir(v)
    // the data dir is attempt-unique (see dataSubdir), so the write
    // never collides with a racing committer or with debris from an
    // interrupted one; the MANIFEST write (finishStaged) is the commit
    // point — a data dir without a manifest is unreachable debris,
    // reclaimed by vacuum's sweep. The frame is written as given: a
    // caller that wants fewer, larger files sizes it before the call
    df.write.mode("errorifexists").parquet(s"$table/$sub")
    val live =
      if (!append || prior.isEmpty) Seq(sub)
      else prior.last.live :+ sub
    Staged(table, Commit(v, ts, action, live))
  }

  /** Phase two: the atomic commit point — one create-exclusive
    * manifest write.
    */
  private[graft] def finishStaged(spark: SparkSession, s: Staged): Commit = {
    writeManifest(fs(spark, s.table), s.table, s.commit)
    s.commit
  }

  /** Read version `v` (default: latest). The manifest's live list,
    * not a directory listing, scopes the scan.
    */
  def readVersion(spark: SparkSession, table: String, v: Option[Long] = None): DataFrame = {
    val all = commits(spark, table)
    require(all.nonEmpty, s"not a versioned table (no $LogDir): $table")
    val c = v match {
      case None => all.last
      case Some(want) =>
        all.find(_.version == want).getOrElse(throw new IllegalArgumentException(
          s"version $want not found in $table (have ${all.map(_.version).mkString(",")})"))
    }
    readCommit(spark, table, c)
  }

  /** Latest content. */
  def read(spark: SparkSession, table: String): DataFrame = readVersion(spark, table)

  /** BigQuery's `FOR SYSTEM_TIME AS OF`: the newest commit whose
    * timestamp is <= `tsUs`. Loud when the time predates the first
    * commit — BigQuery errors there too, and silently returning the
    * empty table would forge history.
    */
  def readAsOf(spark: SparkSession, table: String, tsUs: Long): DataFrame = {
    val all = commits(spark, table)
    require(all.nonEmpty, s"not a versioned table (no $LogDir): $table")
    val at = all.filter(_.commitTsUs <= tsUs)
    require(at.nonEmpty,
      s"AS OF $tsUs predates the table's first commit (${all.head.commitTsUs})")
    readCommit(spark, table, at.last)
  }

  private def readCommit(spark: SparkSession, table: String, c: Commit): DataFrame = {
    // an empty live list cannot happen by construction (every commit
    // writes a data dir), but guard the read anyway
    require(c.live.nonEmpty, s"corrupt manifest v${c.version}: empty live set")
    Tables.parquet(spark, c.live.map(d => s"$table/$d"): _*)
  }

  /** Rewrite the live set into ONE fresh commit (content-identical,
    * label `compact`) — the OPTIMIZE verb for the append-commit debt:
    * every [[append]] adds a data directory to the live list, and a
    * reader of commit N opens N directories' files; compaction resets
    * that to one directory without touching history (older versions
    * keep their manifests and stay readable AS OF — their directories
    * are reclaimed only when [[vacuum]] passes them). The same
    * file-count debt [[graft.sources.Layout.compactDays]] pays at the
    * day-partition level, paid here at the commit-log level.
    */
  def compact(spark: SparkSession, table: String,
              commitTsUs: Option[Long] = None): Commit = {
    val cur = read(spark, table)
    overwrite(cur, table, commitTsUs, label = "compact")
  }

  // ── change history: the APPENDS / CHANGES reader half ────────────

  /** (predecessor, commit) pairs whose commit time falls in
    * BigQuery's change-history window: start INCLUSIVE, end
    * EXCLUSIVE; `None` start = table creation, `None` end = now.
    */
  private def windowPairs(all: Seq[Commit], startUs: Option[Long],
                          endUs: Option[Long]): Seq[(Option[Commit], Commit)] =
    all.zipWithIndex.collect {
      case (c, i) if startUs.forall(c.commitTsUs >= _) && endUs.forall(c.commitTsUs < _) =>
        (if (i == 0) None else Some(all(i - 1)), c)
    }

  /** The data directories a commit ADDED, when its disposition is an
    * append (predecessor's live set is a prefix of its own); None for
    * a rewrite (overwrite/compact), whose delta is not a file set.
    */
  private def deltaDirs(prior: Option[Commit], c: Commit): Option[Seq[String]] =
    prior match {
      case None => Some(c.live)
      case Some(p) if c.live.startsWith(p.live) => Some(c.live.drop(p.live.size))
      case _ => None
    }

  private def withChangeCols(df: DataFrame, tpe: String, tsUs: Long): DataFrame =
    df.withColumn("_change_type", F.lit(tpe))
      .withColumn("_change_timestamp", F.timestamp_micros(F.lit(tsUs)))

  private def emptyChanges(spark: SparkSession, table: String): DataFrame =
    withChangeCols(read(spark, table).limit(0), "INSERT", 0L)

  /** BigQuery's `APPENDS(TABLE t, start, end)` TVF, reader half: the
    * rows appended in the window, each with `_change_type` ('INSERT')
    * and `_change_timestamp` (the commit time) pseudo-columns.
    *
    * Scale contract — the reason CDC reads beat snapshot diffs at
    * 100 TB: an in-window append's rows are exactly its own commit
    * directories (the manifest names them), so this reader scans
    * O(changed bytes) and NEVER the table; an incremental consumer
    * (the A23 shape) reads each day's appends, not each day's table.
    * A rewrite commit (overwrite/compact) in the window is LOUD — its
    * delta is not a file set; row-level history for rewrites is
    * [[changesBetween]], and BigQuery's own APPENDS errors past a
    * truncate for the same reason.
    */
  def appendsBetween(spark: SparkSession, table: String, startUs: Option[Long],
                     endUs: Option[Long]): DataFrame = {
    val all = commits(spark, table)
    require(all.nonEmpty, s"not a versioned table (no $LogDir): $table")
    val branches = windowPairs(all, startUs, endUs).map { case (prior, c) =>
      val delta = deltaDirs(prior, c).getOrElse(throw new IllegalArgumentException(
        s"APPENDS cannot represent commit v${c.version} (action '${c.action}'): " +
          "its live set rewrites history — row-level history across a rewrite " +
          "is CHANGES(...)"))
      withChangeCols(Tables.parquet(spark, delta.map(d => s"$table/$d"): _*),
        "INSERT", c.commitTsUs)
    }
    if (branches.isEmpty) emptyChanges(spark, table)
    else branches.reduce(_ unionByName _)
  }

  /** BigQuery's `CHANGES(TABLE t, start, end)` TVF, reader half: one
    * row per row-level change in the window — INSERTs for appended
    * rows, INSERT/DELETE pairs for a rewrite's multiset difference
    * (no keys exist at this layer, so an update IS delete+insert,
    * BigQuery's own storage-layer representation).
    *
    * Cost tiers, cheapest first: an append-disposition commit reads
    * only its delta directories (O(changed bytes), as in
    * [[appendsBetween]]); a `compact` commit is content-identical by
    * [[compact]]'s contract and contributes NOTHING without scanning
    * (maintenance windows stay free — the label is the API contract);
    * any other rewrite pays the honest price of row-level history
    * over a rewrite: both snapshots + one all-columns aggregate —
    * the ±1-weight groupBy keeps it one shuffle, NULLs group as
    * equal (multiset semantics), and each changed row expands to
    * |count delta| change rows.
    */
  def changesBetween(spark: SparkSession, table: String, startUs: Option[Long],
                     endUs: Option[Long]): DataFrame = {
    val all = commits(spark, table)
    require(all.nonEmpty, s"not a versioned table (no $LogDir): $table")
    val branches = windowPairs(all, startUs, endUs).flatMap { case (prior, c) =>
      deltaDirs(prior, c) match {
        case Some(delta) =>
          Some(withChangeCols(Tables.parquet(spark, delta.map(d => s"$table/$d"): _*),
            "INSERT", c.commitTsUs))
        case None if c.action == "compact" => None
        case None =>
          val after = readCommit(spark, table, c)
          val cols = after.columns.toSeq.map(F.col)
          val weighted = after.withColumn("__w", F.lit(1L))
            .unionByName(readCommit(spark, table, prior.get).withColumn("__w", F.lit(-1L)))
          val diff = weighted.groupBy(cols: _*).agg(F.sum("__w").as("__d"))
            .filter(F.col("__d") =!= 0L)
          Some(diff
            .withColumn("__i", F.explode(F.sequence(F.lit(1L), F.abs(F.col("__d")))))
            .withColumn("_change_type",
              F.when(F.col("__d") > 0L, "INSERT").otherwise("DELETE"))
            .withColumn("_change_timestamp", F.timestamp_micros(F.lit(c.commitTsUs)))
            .drop("__d", "__i"))
      }
    }
    if (branches.isEmpty) emptyChanges(spark, table)
    else branches.reduce(_ unionByName _)
  }

  /** Drop history older than `horizonTsUs`, keeping every commit
    * needed to serve reads at or after the horizon (i.e. the newest
    * commit at-or-before it, plus everything later), then SWEEP the
    * data root: any directory no retained manifest references is
    * deleted — that covers both the dropped versions' exclusive data
    * and commit DEBRIS (a racing loser's or crashed writer's
    * directory, which no manifest ever referenced). BigQuery's 7-day
    * time-travel window, made an explicit maintenance verb.
    *
    * Concurrency contract (the [[graft.sources.Layout.compactDays]]
    * discipline): vacuum must not run concurrently with a WRITER on
    * the same table — an in-flight commit's data directory has no
    * manifest yet and would be swept as debris. That explicitly
    * includes a multi-statement TRANSACTION holding staged data on
    * this table: between [[stage]] and COMMIT's [[finishStaged]] the
    * staged dirs are manifest-less by design, and a concurrent vacuum
    * (GraftSql's verb only guards the SAME session via requireNoTxn)
    * would sweep them out from under the later manifest — a corrupt
    * table. Vacuum is a single-writer maintenance verb, same as
    * OPTIMIZE. Readers are safe for retained versions; a frame
    * captured over a DROPPED version fails at its next action (its
    * files are gone — that is what dropping history means),
    * spec-pinned.
    */
  def vacuum(spark: SparkSession, table: String, horizonTsUs: Long): Seq[Long] = {
    val all = commits(spark, table)
    require(all.nonEmpty, s"not a versioned table (no $LogDir): $table")
    val keepFrom = all.lastIndexWhere(_.commitTsUs <= horizonTsUs) match {
      case -1 => 0 // nothing at-or-before the horizon: keep all
      case i => i
    }
    val (drop, keep) = all.splitAt(keepFrom)
    val liveDirs = keep.flatMap(_.live).toSet
    val f = fs(spark, table)
    drop.foreach(c => f.delete(manifestPath(table, c.version), false))
    val dataRoot = new Path(s"$table/$DataDir")
    if (f.exists(dataRoot))
      f.listStatus(dataRoot).map(_.getPath)
        .filterNot(p => liveDirs.contains(s"$DataDir/${p.getName}"))
        .foreach(p => f.delete(p, true))
    drop.map(_.version)
  }

  // ── SQL surface: session registry consulted by GraftSql's
  //    FOR SYSTEM_TIME AS OF rewrite ─────────────────────────────────
  private val registry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), String]

  private def key(spark: SparkSession, name: String): (Int, String) =
    (System.identityHashCode(spark), name.toLowerCase(java.util.Locale.ROOT))

  /** Register a versioned table as session table `name`: the LATEST
    * version becomes a temp view (refreshed on every register call),
    * and `name FOR SYSTEM_TIME AS OF <ts>` resolves through
    * [[GraftSql.load]] from then on.
    */
  def register(spark: SparkSession, name: String, table: String): DataFrame = {
    val df = read(spark, table)
    df.createOrReplaceTempView(name)
    registry(key(spark, name)) = table
    df
  }

  private[graft] def registeredPath(spark: SparkSession, name: String): Option[String] =
    registry.get(key(spark, name))

  /** Every versioned table registered in `spark`'s session
    * (name → on-disk table path), sorted by name —
    * INFORMATION_SCHEMA.PARTITIONS' enumeration source.
    */
  private[graft] def registeredTables(spark: SparkSession): Seq[(String, String)] = {
    val h = System.identityHashCode(spark)
    registry.toSeq.collect { case ((s, n), p) if s == h => (n, p) }.sortBy(_._1)
  }

  /** Remove `name` from the session registry (DROP TABLE's registry
    * half — the temp view is the caller's to drop). The on-disk
    * commit log is NOT touched: like BigQuery's dropped-table
    * restore window, history survives until someone vacuums or
    * deletes the directory; re-`register` restores the name.
    */
  private[graft] def unregister(spark: SparkSession, name: String): Unit =
    registry.remove(key(spark, name))
}
