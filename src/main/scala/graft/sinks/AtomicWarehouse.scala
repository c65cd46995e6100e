package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.{sources => sf}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Atomic-commit warehouse — the transactionality the reference's BigQuery
  * sink gets for free (ref: Python-pipeline/ingestdatainbigquery.py:49-99:
  * each load job + the CREATE OR REPLACE dedup is atomic server-side) and
  * plain parquet directories lack: an append-then-rewrite-dedup drain
  * into a plain directory has crash windows where the warehouse holds a
  * half-appended epoch or a half-rewritten dedup copy. Every pipeline
  * epoch reaches the warehouse through this object: [[drain]] from a
  * staging dir, or [[Constraints.drainChecked]] from an epoch frame.
  *
  * Design (log-structured, the public Delta/Iceberg idea at its minimum):
  *
  *  - each drain writes its epoch's rows to an immutable delta dir
  *    `epoch_<seq>/` — O(epoch delta) I/O, never a full-warehouse rewrite;
  *  - a version manifest `_manifest/v<N>.json` lists the committed epoch
  *    dirs; committing = writing the next manifest to a temp name and
  *    ATOMICALLY renaming it into place (single-file rename is atomic on
  *    HDFS/posix/ABFS — the one primitive object stores and filesystems
  *    agree on). Readers resolve max(v<N>) and see only listed epochs: a
  *    crash before the rename leaves a dangling data dir that no reader
  *    ever sees, and re-running the drain overwrites it and commits —
  *    recovery is "run the same drain again", no dedup crutch;
  *  - the read path unions the committed epochs and applies the keyed
  *    last-wins merge (W2's exact window) — the same one-shuffle dedup
  *    the reference re-runs after every load, paid on read instead of
  *    rewriting the warehouse on every write. [[compact]] folds committed
  *    epochs into one pre-merged dir when the manifest grows long (epoch
  *    count, not data size, is the read-planning cost), [[vacuum]] is the
  *    retention pass that finally destroys unreferenced history, and
  *    manifest entries carry optional per-COLUMN min/max stats so
  *    [[readRange]]/[[readRangeOn]] can skip whole epochs (zone maps at
  *    the epoch level).
  *
  * FILESYSTEM CONTRACT (the public API's contract, not a private detail):
  * every commit rides on an atomic fail-if-destination-exists publish —
  * POSIX `link(2)` locally, namenode-atomic `rename` on HDFS/ABFS-like
  * stores. Object stores whose rename is copy+delete (S3A, GCS connector,
  * WASB, …) cannot provide that primitive, so every mutating entry point
  * REJECTS those schemes loudly instead of silently risking a lost
  * manifest version; on S3 the equivalent design needs a conditional-PUT
  * or DynamoDB-style lock service (what Delta's S3 LogStore does), which
  * is out of scope here.
  *
  * Scale: commit cost is O(delta) + one tiny rename regardless of
  * warehouse size (the K6 append path rewrote nothing either, but its
  * idempotence depended on the W2 rewrite); read cost is scan + one
  * key shuffle, and at 100 TB the merge window partitions by the same
  * key the epochs would be bucketed on.
  */
object AtomicWarehouse {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) = s"$dir/_manifest"

  /** Schemes whose `rename` is a non-atomic copy+delete and whose
    * fail-if-exists check is therefore check-then-act: two racing writers
    * could both "win" a manifest publish and one version would silently
    * vanish. Rejected at every mutating entry point (see the object
    * scaladoc for the contract and the production alternatives). */
  private val RenameUnsafeSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "swift", "oss", "cos")

  private def requireAtomicScheme(f: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit =
    require(!RenameUnsafeSchemes.contains(f.getScheme),
      s"AtomicWarehouse at $dir: filesystem scheme '${f.getScheme}' has no " +
        "atomic fail-if-exists rename, so manifest commits could be lost in " +
        "a race — use HDFS/ABFS/local, or a conditional-write log store")

  /** Highest committed manifest version, 0 if none. */
  def currentVersion(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val md = new Path(manifestDir(dir))
    if (!f.exists(md)) 0L
    else f.listStatus(md).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .foldLeft(0L)(math.max)
  }

  /** Committed epoch dir names, in commit order. */
  def committedEpochs(spark: SparkSession, dir: String): Seq[String] =
    committedEpochsAt(spark, dir, currentVersion(spark, dir))

  /** Wall-clock commit time of every RETAINED manifest version, as
    * (version → micros since epoch) — each version's manifest file
    * modification time, exactly how Delta derives `_commit_timestamp`
    * and resolves `startingTimestamp` (the commit file IS the commit,
    * so its mtime is the commit instant; a filesystem copy that
    * rewrites mtimes loses this history, same caveat as Delta's). ONE
    * directory listing, O(retained versions). Vacuumed versions are
    * simply absent — callers that need one fail loudly on the gap. */
  private[graft] def manifestTimes(spark: SparkSession,
      dir: String): Map[Long, Long] = {
    val f = fs(spark, dir)
    val md = new Path(manifestDir(dir))
    if (!f.exists(md)) Map.empty
    else f.listStatus(md).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.endsWith(".json"))
        Some(n.stripPrefix("v").stripSuffix(".json").toLong ->
          st.getModificationTime * 1000L)
      else None
    }.toMap
  }

  /** Identity STAMP of a committed manifest version's file — an MD5 of
    * its CONTENT. Manifest files are written once (the CAS publish) and
    * never modified, so the stamp pins the version's content identity
    * for session-global memo keys: a RECREATED warehouse that re-uses
    * version numbers (battery scratch dirs are wiped and rebuilt every
    * run) writes a new file whose digest differs, where a bare
    * (dir, version) key would serve stale answers. A (mtime, length)
    * stamp (rounds 11–13) was ALMOST that — but filesystems with coarse
    * mtime granularity can recreate an identical-length v<N>.json inside
    * one tick, and the memo then served the previous incarnation's
    * MIN/MAX. Manifests are O(entries) small, so hashing costs less
    * than the planning read that follows it.
    *
    * The digest itself is memoized by (path, mtime, length) — but ONLY
    * once the file's mtime is older than one conservative granularity
    * tick ([[StampMtimeGuardMs]]): the recreate-within-one-tick ambiguity
    * that forced content hashing can only arise while "now" still sits
    * in the file's mtime tick, so a file safely past the tick can never
    * again gain a same-(mtime,length) new incarnation — any recreation
    * lands on a LATER tick and misses the cache. This restores the O(1)
    * stat fast path for hot repeated metadata plans at high version
    * counts (the memo's whole purpose) while keeping the round-14
    * correctness fix for freshly recreated manifests.
    *
    * SINGLE-CLOCK ASSUMPTION: the settle check compares the LOCAL
    * `System.currentTimeMillis()` against filesystem mtimes, which is
    * sound when readers and writers see one clock (local fs, or object
    * stores stamping mtimes server-side from one authority). On a
    * shared filesystem where a WRITER's clock runs ahead of this
    * reader's, a freshly recreated v<N>.json can carry an mtime already
    * more than the guard in this reader's past and look settled
    * immediately — re-opening the recreate-within-a-tick window. If
    * this engine is ever deployed over such a filesystem, derive "now"
    * from the filesystem itself (stat a probe file written by this
    * process) or widen the guard past the maximum credible skew. */
  private val StampMtimeGuardMs = 2000L
  private val stampCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), String]()
  private[graft] def manifestStamp(spark: SparkSession, dir: String,
      v: Long): String = {
    val f = fs(spark, dir)
    val p = new Path(manifestDir(dir), s"v$v.json")
    val st = f.getFileStatus(p)
    val settled =
      System.currentTimeMillis() - st.getModificationTime > StampMtimeGuardMs
    val key = (p.toString, st.getModificationTime, st.getLen)
    if (settled) {
      val hit = stampCache.get(key)
      if (hit != null) return hit
    }
    val in = f.open(p)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
    val digest = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
    if (settled) {
      // bound the memo (long-lived sessions over many scratch warehouses):
      // entries are ~100 B, a wholesale clear just re-pays one hash each
      if (stampCache.size > 8192) stampCache.clear()
      stampCache.put(key, digest)
    }
    digest
  }

  /** Highest `load_seq` present in the CURRENT snapshot, or None on a
    * warehouse with no data entries — the floor a self-sequencing writer
    * (SQL MERGE) must exceed to win the keyed merge. Metadata-only in
    * every steady-state shape: every commit path records `load_seq`
    * zone-map stats whenever the column exists ([[statsAndBloomOf]]
    * auto-extends the stats set — compaction folds and purge rewrites
    * included), and those recorded stats are PREFERRED over an
    * `epoch_<seq>` name (the name asserts the caller's intent; the stats
    * reflect the committed rows). A name-only entry (stats-less legacy
    * commit) answers from its name; an entry carrying neither costs a
    * scan — one single-column max() over that entry alone. */
  def maxLoadSeq(spark: SparkSession, dir: String): Option[Long] = {
    val entries = committedEntriesAt(spark, dir, currentVersion(spark, dir))
      .filterNot(e => isTombstone(e.name) || isColMap(e.name))
    if (entries.isEmpty) return None
    val known: Seq[Option[Long]] = entries.map { e =>
      // RECORDED stats beat the name-derived seq: the stats are computed
      // from the committed rows' actual load_seq values, while an
      // `epoch_<N>` name only asserts the caller's intent — a DSv2 write
      // with .option("seq", N) over rows that CARRY a different load_seq
      // column would otherwise make the next self-sequencing writer pick
      // a floor below the real maximum and lose the keyed merge
      e.stats.get("load_seq")
        .collect { case st if st.typ == "long" => st.mx.toLong }
        .orElse("""epoch_(\d+)""".r.findFirstMatchIn(e.name)
          .map(_.group(1).toLong))
    }
    val scanned: Seq[Long] = entries.zip(known).collect {
      case (e, None) =>
        val df = spark.read.parquet(s"$dir/${e.name}")
        if (!df.columns.contains("load_seq")) 0L
        else df.agg(max(col("load_seq").cast("long"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
    }
    Some((known.flatten ++ scanned).foldLeft(0L)(math.max))
  }

  /** UTF-8 BYTE-ORDER string comparison — the one order everything else
    * in the stats stack already uses: parquet footers record BINARY
    * UTF-8 min/max in unsigned byte order, and Spark's `min/max(string)`
    * compare UTF8String (same byte order). Java's `String` compareTo is
    * UTF-16 code-unit order, which DISAGREES above the BMP (supplementary
    * characters encode as surrogates 0xD800–0xDFFF, sorting BELOW
    * U+E000–U+FFFF in UTF-16 but ABOVE them in UTF-8) — merging or
    * comparing stats in that order against byte-ordered bounds would make
    * pruning unsound on non-BMP data. */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  private[graft] def utf8Min(a: String, b: String): String =
    if (utf8Cmp(a, b) <= 0) a else b
  private[graft] def utf8Max(a: String, b: String): String =
    if (utf8Cmp(a, b) >= 0) a else b

  /** Typed min/max of one column over one epoch, as recorded in the
    * manifest. `typ` is `"long"` (integral columns, compared numerically)
    * or `"string"` (string/date/timestamp columns, compared in UTF-8
    * byte order — sound because ISO-8601 renderings sort in time
    * order and byte order matches Spark's own string comparison). Values
    * are stored URL-encoded so tabs/newlines in string minima can never
    * corrupt the line-oriented manifest. */
  final case class ColStats(typ: String, mn: String, mx: String)

  /** Reserved stats slot holding an entry's EXACT row count (min = max =
    * count). `#` can never collide with a real column: every stats
    * column is validated against the epoch's schema at commit time, and
    * the pruning lookups go through [[EpochEntry.statsFor]] with real
    * column names. Lets the connector answer COUNT(*) (and
    * estimateStatistics.numRows, null keys included) from the manifest
    * alone. */
  private[graft] val RowCountStat = "#rows"

  /** Longest string min/max recorded for an AUTO (undeclared) stats
    * column — longer bounds are dropped, keeping manifest lines O(cols)
    * bytes even when an epoch carries document-sized text columns. */
  private[graft] val MaxAutoStatsLen = 64

  /** Reserved stats slot on TOMBSTONE entries: the total number of
    * log-view rows this tombstone NEWLY suppresses (rows matching its
    * keys in earlier data entries that no earlier tombstone already
    * suppressed), recorded at commit time when the rows are cheap to
    * count (the affected epochs are bloom/zone-pruned). Its presence on
    * EVERY tombstone keeps the connector's metadata-only `COUNT(*)`
    * exact at T > 0 — without it, any tombstone forced a full scan
    * (0.6 s manifest answer vs 28 s scan in the round-10 probe). */
  private[graft] val SuppTotalStat = "#supp"

  /** Per-epoch slice of [[SuppTotalStat]]: rows newly suppressed in
    * manifest entry `entry` — lets estimateStatistics subtract
    * suppression for exactly the epochs a pruned scan plans. Only
    * nonzero slices are recorded (sparse: a targeted purge touches few
    * epochs). */
  private[graft] def suppStatsCol(entry: String) = s"supp($entry)"

  /** Can a column of this type carry sound zone-map stats? Integral
    * types compare numerically; string/date/timestamp render to strings
    * that sort in value order. Fractional types can NOT ("10.0" < "9.0"
    * lexicographically), so they never get stats. */
  private[graft] def statsEligible(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Reserved stats slot holding the entry's READ SCHEMA as Spark
    * DataType JSON — the schema `spark.read.parquet(epochDir)` would
    * infer (data columns in footer order, then discovered partition
    * columns), captured from the same read [[statsAndBloomOf]] already
    * performs at commit time. Lets connector/engine planning resolve
    * every epoch's schema from the manifest alone: a 1000-epoch scan
    * plan goes from 1000 parquet-footer opens (~5 ms each, the
    * manifest-scale probe's residual O(entries) cost) to zero I/O
    * beyond the manifest parse. Entries without it (legacy manifests,
    * stats-less commits) fall back to the footer read. */
  private[graft] val SchemaStat = "#schema"

  /** Reserved stats slot holding the entry's DATA FILE LIST — one
    * `len<TAB>relative/path` line per parquet file under the epoch dir,
    * newline-joined (the whole value is URL-encoded on the manifest
    * line). The add-file idea of Delta/Iceberg: scan PLANNING resolves
    * every planned file from the manifest alone instead of walking the
    * store — on an object store a recursive LIST per epoch is the
    * planning bottleneck (a 1000-epoch full read paid 1000 walks, ~1 s
    * even on local fs). Epoch dirs are publish-once immutable, so the
    * listing recorded at commit time stays true until vacuum destroys
    * the whole dir. Entries without it fall back to the walk. */
  private[graft] val FilesStat = "#files"

  /** Relative `(path, length)` of every parquet data file under `path`,
    * hidden files/markers skipped — the commit-time walk [[FilesStat]]
    * records. */
  private def relativeDataFiles(f: org.apache.hadoop.fs.FileSystem,
      path: Path): Seq[(String, Long)] = {
    def walk(p: Path, prefix: String): Seq[(String, Long)] =
      f.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Nil
        else if (st.isDirectory) walk(st.getPath, s"$prefix$n/")
        else if (n.endsWith(".parquet")) Seq((s"$prefix$n", st.getLen))
        else Nil
      }
    walk(path, "")
  }

  private[graft] def filesStatOf(spark: SparkSession,
      path: String): (String, ColStats) = {
    val p = new Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = relativeDataFiles(f, p)
      .map { case (rel, len) => s"$len\t$rel" }.mkString("\n")
    FilesStat -> ColStats("files", body, "-")
  }

  /** The column name legacy single-stat manifest lines are parsed under:
    * old manifests recorded exactly one (long) stat and it was by
    * construction the merge key's, so lookups treat `*` as "the merge
    * key, whatever the caller says it is". */
  private val LegacyStatsCol = "*"

  /** One committed data dir in a manifest: its name plus per-column
    * min/max statistics (the per-epoch zone map that lets range reads
    * skip whole epochs — the file-skipping idea of Parquet row-group
    * stats lifted to the epoch level, where it prunes I/O *and* merge
    * input). Serialized one line per entry as
    * `name(\tcol\ttyp\tmin\tmax)*` with URL-encoded col/min/max;
    * legacy `name\tmin\tmax` (two numeric fields) lines parse as the
    * merge key's long stats. */
  final case class EpochEntry(name: String, stats: Map[String, ColStats]) {
    private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def line: String =
      (name +: stats.toSeq.sortBy(_._1).flatMap { case (c, st) =>
        Seq(enc(c), st.typ, enc(st.mn), enc(st.mx))
      }).mkString("\t")
    /** Stats applicable when pruning on `col`, given the merge key. */
    def statsFor(col: String, mergeKey: String): Option[ColStats] =
      stats.get(col).orElse(
        if (col == mergeKey) stats.get(LegacyStatsCol) else None)
  }

  object EpochEntry {
    def apply(name: String): EpochEntry = EpochEntry(name, Map.empty)
    private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    // limit -1: a trailing EMPTY field (e.g. a string column whose max
    // is "") must survive the split or the line mis-parses
    def parse(l: String): EpochEntry = l.split("\t", -1) match {
      case Array(n) => EpochEntry(n)
      case Array(n, mn, mx) if mn.forall(c => c.isDigit || c == '-') =>
        EpochEntry(n, Map(LegacyStatsCol -> ColStats("long", mn, mx)))
      case parts if parts.length >= 5 && (parts.length - 1) % 4 == 0 =>
        EpochEntry(parts.head,
          parts.tail.grouped(4).map { case Array(c, typ, mn, mx) =>
            dec(c) -> ColStats(typ, dec(mn), dec(mx))
          }.toMap)
      case _ => throw new IllegalStateException(s"bad manifest line: $l")
    }
  }

  /** Epoch list as of a PAST manifest version — the time-travel read.
    * Version manifests are immutable once renamed into place, so any
    * historical snapshot stays reconstructable until a retention pass
    * deletes old manifests; data dirs are never rewritten, so no copy is
    * needed (the log-structured layout gives time travel for free). */
  def committedEpochsAt(spark: SparkSession, dir: String, v: Long): Seq[String] =
    committedEntriesAt(spark, dir, v).map(_.name)

  /** Manifest entries (names + per-column stats) as of version `v`.
    * Deliberately UNCACHED at this level: a recreated warehouse at the
    * same path (tests, reused scratch dirs) legitimately re-uses
    * version numbers with different content, so a session-global parse
    * cache could serve stale file lists. Long-lived consumers that can
    * assume immutability for their own lifetime (the connector's
    * manifest tail) memoize per-instance instead. */
  def committedEntriesAt(spark: SparkSession, dir: String,
      v: Long): Seq[EpochEntry] = {
    if (v == 0L) Seq.empty
    else {
      val p = new Path(s"${manifestDir(dir)}/v$v.json")
      val in = fs(spark, dir).open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      body.linesIterator.map(_.trim).filter(_.nonEmpty)
        .map(EpochEntry.parse).toSeq
    }
  }

  /** Entry names referenced by a RETAINED historical manifest but absent
    * from the CURRENT one — dirs kept on disk purely for time travel
    * (compaction's folded bases, CoW-purge victims, and — the hazardous
    * case — epochs a RESTORE undid). An undone `epoch_<seq>` is a trap:
    * restore lowers the [[maxLoadSeq]] floor back below it, so the next
    * drain naturally re-uses the sequence number, and [[publishData]]'s
    * adopt branch ("a complete same-name dir is a concurrent replay's
    * publish") would silently commit the OLD epoch's rows while
    * discarding the fresh ones. Commit paths consult this set ONLY when
    * the destination dir already exists (never in steady state), so the
    * O(retained manifests) read cost sits on the rare collision path. */
  private[sinks] def historicalOrphans(spark: SparkSession,
      dir: String): Set[String] = {
    val cur = currentVersion(spark, dir)
    if (cur == 0L) return Set.empty
    val live = committedEpochsAt(spark, dir, cur).toSet
    val f = fs(spark, dir)
    val md = new Path(manifestDir(dir))
    if (!f.exists(md)) return Set.empty
    val retained = f.listStatus(md).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .filter(_ < cur)
    retained.flatMap(v => committedEpochsAt(spark, dir, v)).toSet -- live
  }

  /** Refuse a commit of `schema` that RETYPES a known column or bears
    * the RENAME SIGNATURE. Both are judged against the committed
    * [[effectiveSchema]] — the RECORDED entry schemas ([[SchemaStat]],
    * zero I/O: the manifest is already read on this path, and the
    * parsed schemas are cached) under the column-mapping directives.
    *
    * A retyped column ([[requireSameType]]) would commit fine and then
    * fail every read at schema resolution; it is refused always, with
    * the type a commit of `schema` records compared (integral columns
    * narrower than int record as int) and hive partition columns
    * (`partitionBy`, typed by inference from their values) left out.
    *
    * The read merge unions epochs BY NAME (additive widening is free:
    * old epochs serve nulls for new columns, partial epochs serve nulls
    * for absent ones). But a committed epoch that simultaneously DROPS a
    * known column AND ADDS an unknown one is, in every real pipeline, a
    * RENAME — and name-union silently forks it: every old row reads null
    * under the new name, every new row null under the old, with no
    * error anywhere. The fork is REFUSED at commit time, loudly; pure
    * widening and pure narrowing stay allowed. `graft.schema.allowNonAdditive=true` opts a
    * session into the fork (a genuine add+drop migration, done
    * knowingly). */
  private def requireAdditiveSchema(spark: SparkSession, dir: String,
      schema: StructType, what: String,
      partitionBy: Seq[String] = Nil): Unit = {
    // the judgment runs against the EFFECTIVE schema: a commit under
    // post-rename names must not read as "drops the old name", and a
    // mapped-away (dropped) column is no longer known
    val known = effectiveSchema(spark, dir,
      committedEntriesAt(spark, dir, currentVersion(spark, dir))).toMap
    def recorded(t: DataType): DataType = t match {
      case ByteType | ShortType => IntegerType
      case other => other
    }
    schema.fields.filterNot(f => partitionBy.contains(f.name)).foreach { f =>
      known.get(f.name).foreach(t =>
        requireSameType(dir, f.name, recorded(t), recorded(f.dataType), what))
    }
    if (known.isEmpty ||
        spark.conf.get("graft.schema.allowNonAdditive", "false").toBoolean)
      return
    val cols = schema.fieldNames.toSet
    val dropped = known.keySet -- cols
    val added = cols -- known.keySet
    if (dropped.nonEmpty && added.nonEmpty)
      throw new UnsupportedOperationException(
        s"$what at $dir drops known column(s) ${dropped.toSeq.sorted
          .mkString(", ")} while adding ${added.toSeq.sorted.mkString(", ")}" +
          " — a rename signature the name-union read merge would silently " +
          "fork into old-null/new-null halves. Rename has no " +
          "column-mapping support: either keep the old column alongside " +
          "the new one (additive widening), or set " +
          "spark.conf graft.schema.allowNonAdditive=true to commit the " +
          "add+drop knowingly")
  }

  /** The one TYPE rule of schema evolution: a column keeps the type it
    * was first committed under — additive evolution may add columns,
    * never retype them. Shared by the commit check
    * ([[requireAdditiveSchema]]), the DSv2 write's planning check and the
    * served schema ([[graft.sources.v2.WarehouseConnector.servedSchema]]).
    */
  private[graft] def requireSameType(dir: String, c: String, was: DataType,
      now: DataType, what: String): Unit =
    if (was != now) throw new IllegalStateException(
      s"column '$c' is $was in $dir but $now in $what — additive " +
        "evolution may add columns, never retype them")

  // ---- COLUMN MAPPING (rename / drop without rewrites) ----------------
  //
  // Delta's column-mapping idea on the log-structured manifest: a RENAME
  // or DROP commits a zero-I/O DIRECTIVE entry (`colmap_*`, manifest-only
  // — no data dir), and reads RESOLVE each epoch's physical columns
  // through the directives committed AFTER it. Column identity is
  // positional, exactly like tombstone suppression: a directive applies
  // only to entries committed BEFORE it, so dropping `c` and later
  // re-adding a column named `c` creates a NEW column — the old values
  // stay masked (Delta's id-based semantics, expressed with manifest
  // positions instead of field ids). Renames chain in commit order.
  // Zero data I/O at DDL time; compaction MATERIALIZES the mapping (the
  // fold reads through it and rewrites under the final names), after
  // which the directives fold away with their base.

  private[graft] val ColMapStat = "#colmap"
  private[graft] def isColMap(n: String): Boolean = n.startsWith("colmap_")

  private[graft] sealed trait ColMapOp
  private[graft] final case class RenameOp(oldName: String, newName: String)
      extends ColMapOp
  private[graft] final case class DropOp(colName: String) extends ColMapOp

  private def encodeOp(op: ColMapOp): String = {
    def esc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    op match {
      case RenameOp(o, n) => s"rename ${esc(o)} ${esc(n)}"
      case DropOp(c) => s"drop ${esc(c)}"
    }
  }
  private def decodeOp(s: String): ColMapOp = {
    def un(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
    s.split(' ') match {
      case Array("rename", o, n) => RenameOp(un(o), un(n))
      case Array("drop", c) => DropOp(un(c))
      case _ => throw new IllegalStateException(s"bad colmap directive: $s")
    }
  }

  /** The manifest's mapping directives as (position, op), commit order.
    * Positions index the SAME entry seq the read paths' `posOf` use. */
  private[graft] def colMapOps(entries: Seq[EpochEntry]): Seq[(Int, ColMapOp)] =
    entries.zipWithIndex.flatMap { case (e, i) =>
      if (!isColMap(e.name)) None
      else e.stats.get(ColMapStat).map(st => i -> decodeOp(st.mn))
    }

  /** Resolve physical column `c` of an entry at manifest position `pos`
    * through every directive committed after it: the final served name,
    * or None when a drop masks it — or when `c` is a PHANTOM: a later
    * rename's TARGET reached while the chain still names `c`. A rename's
    * precondition is that its target is absent from the effective schema,
    * so no entry at `pos` can physically hold such a column; resolving it
    * anyway gave chained renames (k→id, id→uid) a bogus uid→id mapping
    * at positions before BOTH directives, shadowing the real uid→k and
    * serving nulls from pre-rename files. Real fields never trip this:
    * a physical `c` still serving at the rename would have made the
    * directive's own precondition refuse. */
  private[graft] def effectiveName(c: String, pos: Int,
      ops: Seq[(Int, ColMapOp)]): Option[String] = {
    var cur = c
    ops.foreach { case (opPos, op) =>
      if (opPos > pos) op match {
        case RenameOp(o, n) if o == cur => cur = n
        case RenameOp(_, n) if n == cur => return None // phantom candidate
        case DropOp(d) if d == cur => return None
        case _ => ()
      }
    }
    Some(cur)
  }

  /** The EFFECTIVE (served) schema at `version` — every data entry's
    * physical fields resolved through the directives, first occurrence
    * fixing order. */
  private[graft] def effectiveSchema(spark: SparkSession, dir: String,
      entries: Seq[EpochEntry]): Seq[(String, DataType)] = {
    val ops = colMapOps(entries)
    val posOf = entries.map(_.name).zipWithIndex.toMap
    val out = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    entries.filterNot(e => isTombstone(e.name) || isColMap(e.name))
      .foreach { e =>
        val st = graft.sources.v2.WarehouseConnector.entrySchema(spark, dir, e)
        st.fields.foreach { f =>
          effectiveName(f.name, posOf(e.name), ops).foreach { n =>
            if (!out.contains(n)) out(n) = f.dataType
          }
        }
      }
    out.toSeq
  }

  /** Commit one mapping directive as a MANIFEST-ONLY entry: no data dir,
    * empty recorded schema/file list, zero rows — every planner treats
    * it as contributing nothing; only the mapping resolution reads the
    * [[ColMapStat]] payload. The name digests (base version, op), so a
    * replay of the same DDL at the same base converges; any other writer
    * commits under a different name. */
  private def commitColMapOp(spark: SparkSession, dir: String,
      op: ColMapOp): Unit = {
    val f = fs(spark, dir)
    requireAtomicScheme(f, dir)
    val baseV = currentVersion(spark, dir)
    require(baseV > 0L, s"no committed manifest at $dir to alter")
    val name = s"colmap_v${baseV}_${digestOf(Seq(encodeOp(op)))}"
    val stats = Map(
      ColMapStat -> ColStats("colmap", encodeOp(op), "-"),
      RowCountStat -> ColStats("long", "0", "0"),
      SchemaStat -> ColStats("schema", new StructType().json, "-"),
      FilesStat -> ColStats("files", "", "-"))
    commitManifest(spark, dir, s"column mapping $op") { entries =>
      if (entries.exists(_.name == name)) None // replay converged
      else {
        val eff = effectiveSchema(spark, dir, entries).map(_._1).toSet
        op match {
          case RenameOp(o, n) =>
            require(eff.contains(o),
              s"RENAME: no column '$o' in the effective schema of $dir " +
                s"(have: ${eff.toSeq.sorted.mkString(", ")})")
            require(!eff.contains(n),
              s"RENAME: column '$n' already exists in $dir — renames " +
                "never merge columns")
          case DropOp(c) =>
            require(eff.contains(c),
              s"DROP: no column '$c' in the effective schema of $dir")
        }
        // the merge key's name is load-bearing across the whole lattice
        // (tombstone comparisons, catalog conf, SQL DML rewrites):
        // remapping it would strand every committed key list — refuse
        val conf = graft.sources.v2.WarehouseCatalog.tableConf(f, dir)
        val keyCols = conf.get("mergeKey").toSeq
          .flatMap(keyParts).toSet + "load_seq"
        val touched = op match {
          case RenameOp(o, _) => o
          case DropOp(c) => c
        }
        require(!keyCols.contains(touched),
          s"column mapping cannot touch '$touched': it is the declared " +
            "merge key or the engine's load_seq sequencing column")
        Some(entries :+ EpochEntry(name, stats))
      }
    }
  }

  /** RENAME a column with ZERO data rewrites — a manifest-only mapping
    * directive; old epochs' values serve under the new name from the
    * next read on. Refused: renaming onto an existing column, renaming
    * the declared merge key or `load_seq`. */
  def renameColumn(spark: SparkSession, dir: String, oldName: String,
      newName: String): Unit = {
    require(oldName != newName, "rename to the same name is a no-op")
    commitColMapOp(spark, dir, RenameOp(oldName, newName))
  }

  /** DROP a column with ZERO data rewrites — a manifest-only projection
    * mask. Values committed before the drop stay masked even if a later
    * epoch re-adds the name (new column identity, Delta semantics);
    * history before the directive still time-travels with the column. */
  def dropColumn(spark: SparkSession, dir: String, colName: String): Unit =
    commitColMapOp(spark, dir, DropOp(colName))

  /** Resolve the default `epoch_<seq>` name for a fresh commit,
    * sidestepping a RESTORE-undone dir of the same name: if `$dir/$base`
    * exists and a retained HISTORICAL manifest references it while the
    * current one does not, the dir holds rows a rollback retracted —
    * adopting it would resurrect them — so the commit takes the first
    * `<base>__r<k>` not itself an orphan. Deterministic across replays
    * (depends only on the orphan set, which only a concurrent restore
    * could shift), so a retried drain converges on the same name and the
    * normal adopt contract applies to it. `maxLoadSeq`'s name fallback
    * still parses the seq out of the disambiguated form, and recorded
    * `load_seq` stats are preferred anyway. */
  private def resolveEpochName(spark: SparkSession, dir: String,
      base: String): String = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(s"$dir/$base"))) return base
    val orphans = historicalOrphans(spark, dir)
    if (!orphans(base)) return base
    var k = 1
    while (orphans(s"${base}__r$k")) k += 1
    s"${base}__r$k"
  }

  /** Snapshot read: the committed epochs' log view under the keyed
    * last-wins merge (W2). Uncommitted epoch dirs are invisible by
    * construction. */
  def read(spark: SparkSession, dir: String, key: String): DataFrame =
    readVersion(spark, dir, key, currentVersion(spark, dir))

  /** Time-travel read: the warehouse exactly as of manifest `version`.
    * Epoch schemas may EVOLVE additively across drains (the reference's
    * sheet grows columns over time, K5's header-ensure): columns missing
    * from an older epoch surface as nulls, so old epochs never need a
    * rewrite when the schema widens. The same scan the connector serves
    * `VERSION AS OF` with ([[logView]]). */
  def readVersion(spark: SparkSession, dir: String, key: String,
      version: Long): DataFrame = {
    val entries = committedEntriesAt(spark, dir, version)
    require(entries.nonEmpty, s"no committed epochs at $dir v$version")
    mergedRead(spark, dir, key, entries)
  }

  /** The [[logView]] of `entries`, pruned by `filters`, under the keyed
    * last-wins merge: a `row_number() = 1` window over the merge key.
    * `filters` state the read's predicate for pruning
    * ([[graft.sources.v2.WarehouseConnector.EngineRead]]); `preFilter`,
    * the same predicate over the log view, filters the rows below the
    * window, where the scan also prunes row groups by what of it Spark
    * pushes. When the read pins every key part to a literal, as a point
    * lookup does, the window forms one group and the optimizer plans it
    * as a top-1 with no exchange
    * ([[graft.plans.EliminatePinnedWindowPartitions]]). */
  private def mergedRead(spark: SparkSession, dir: String, key: String,
      entries: Seq[EpochEntry], filters: Seq[sf.Filter] = Nil,
      preFilter: Option[DataFrame => org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val log = logView(spark, dir, key, entries, filters)
    // the range predicate applies BELOW the merge window: a filter above
    // it could never push past the Window (its partitioning is the merge
    // key, not the filtered column), which would defeat partition and
    // row-group pruning entirely. Pre-merge filtering is result-identical
    // exactly under the contracts the range readers already carry — the
    // filtered column is version-stable per key, so the filter drops ALL
    // versions of a key or none and the merge winner is unchanged.
    lastWins(preFilter.map(p => log.where(p(log))).getOrElse(log), key)
  }

  /** The keyed last-wins merge of a log view carrying `__pos`: a
    * `row_number() = 1` window over the merge key, ordered by `load_seq`
    * then manifest position, both descending. */
  private def lastWins(log: DataFrame, key: String): DataFrame = {
    val w = Window.partitionBy(keyParts(key).map(col): _*)
      .orderBy(col("load_seq").desc, col("__pos").desc)
    log.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "__pos")
  }

  /** The LOG view of the manifest entry list `entries`: every row-version
    * of its data entries with each row's manifest position as `__pos` —
    * the `graft-warehouse` scan ([[graft.sources.v2.WarehouseScan]])
    * handed the entries and the read's `filters`, its `_pos` metadata
    * column served as `__pos`. The scan skips the entries and files the
    * filters rule out, and those whose every admitted row a later
    * tombstone drops; it answers on the driver when the filters pin the
    * key and its files fit the connector's bound
    * ([[graft.sources.v2.WarehouseScan.driverRead]]). Its reader applies
    * the tombstones
    * (merge-on-read drops of the keys they list, in entries before
    * them), the column-mapping directives and the hive partition values.
    * The columns are the served schema of ALL data entries, planned or
    * pruned ([[graft.sources.v2.WarehouseConnector.servedSchema]]), so
    * the result never depends on which epochs were pruned. The shared
    * substrate of [[mergedRead]], [[minMaxOfEntries]] and the
    * tombstone-commit suppression count ([[suppressionStats]]), which
    * must count exactly the rows a read would serve.
    *
    * `__pos` is the merge window's `load_seq` TIEBREAKER. A tie is
    * reachable since SQL MERGE self-assigns load_seq in its own entry
    * namespace: a drain whose external counter lands on the same seq
    * commits fine (distinct entry name), and manifest order — commit
    * order — decides the winner deterministically. */
  private def logView(spark: SparkSession, dir: String, key: String,
      entries: Seq[EpochEntry], filters: Seq[sf.Filter] = Nil): DataFrame = {
    import graft.sources.v2.{WarehouseConnector => WC, WarehouseTable}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    require(entries.exists(e => !isTombstone(e.name) && !isColMap(e.name)),
      s"warehouse at $dir holds only tombstone entries — no data to read")
    val table = new WarehouseTable(dir, None,
      WC.servedSchema(spark, dir, entries), key,
      engineRead = Some(new WC.EngineRead(entries, filters)))
    val rel = DataSourceV2Relation.create(table, None, None,
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    val pos = rel.metadataOutput.find(_.name == WC.PosColumn).getOrElse(
      throw new IllegalStateException(
        s"a data column of $dir shadows the ${WC.PosColumn} metadata column"))
    org.apache.spark.sql.GraftBridge.ofRows(spark, Project(
      rel.output :+ Alias(pos, "__pos")(), rel.withMetadataColumns()))
  }

  /** MIN and MAX of column `c` over ONLY the given entries' LOG view —
    * data entries with every given tombstone applied as merge-on-read
    * drops (manifest-relative order preserved: a subset keeps its
    * original ordering, so "tombstone suppresses earlier entries"
    * holds unchanged). The connector's metadata-aggregate helper for
    * the c70 trade: when tombstones are outstanding, only the epochs
    * whose zone-map extremum COULD be suppressed are re-scanned (one
    * pruned planning-time job over the suspect epochs — the same
    * spend-at-maintenance shape as the tombstone suppression counts),
    * while every other epoch keeps serving stats. Returns EXTERNAL
    * values (Row.get) — (null, null) when the entries hold no non-null
    * `c` (all suppressed / column absent from every epoch). */
  private[graft] def minMaxOfEntries(spark: SparkSession, dir: String,
      key: String, entries: Seq[EpochEntry], c: String): (Any, Any) = {
    val lv = logView(spark, dir, key, entries)
    if (!lv.columns.contains(c)) return (null, null)
    val r = lv.agg(min(col(c)), max(col(c))).head()
    (r.get(0), r.get(1))
  }

  /** Publish `tmp` as `dst` iff `dst` does not exist — the CAS primitive
    * under the manifest commit. Two branches, both public-semantics:
    *
    *  - `file://`: POSIX hard-link (`link(2)`) fails atomically with
    *    EEXIST when the destination exists — a true kernel-level CAS,
    *    which Hadoop's local rename is NOT (java `renameTo` maps to
    *    `rename(2)`, which silently clobbers, so two racing local writers
    *    would both "succeed" and one manifest would vanish);
    *  - everything else (HDFS/ABFS/...): `FileSystem.rename`, whose
    *    contract fails when the destination exists (on HDFS this is a
    *    namenode-atomic check — the same primitive Delta/Iceberg commit
    *    on). Copy+delete object stores never reach here: every mutating
    *    entry point rejects them via [[requireAtomicScheme]].
    *
    * Returns false on a lost race; `tmp` is removed either way. */
  private[graft] def casPublish(f: org.apache.hadoop.fs.FileSystem, tmp: Path,
      dst: Path): Boolean = {
    val won =
      if (f.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else !f.exists(dst) && f.rename(tmp, dst)
    if (f.getScheme == "file" || !won) f.delete(tmp, false)
    won
  }

  /** Create `lock` iff absent — atomic exclusive-create (CREATE_NEW
    * locally, namenode-atomic create(overwrite=false) on HDFS). */
  private def casCreateFile(f: org.apache.hadoop.fs.FileSystem,
      lock: Path): Boolean =
    if (f.getScheme == "file") {
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(lock.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try { f.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** Move the staged epoch DIRECTORY to its final name iff absent.
    * `FileSystem.rename` is the wrong primitive here: when the
    * destination dir already exists, the local implementation falls back
    * to copying the source INTO it (nesting a stage dir inside the epoch)
    * and HDFS renames into it likewise — so both branches use an API
    * whose exists-check refuses instead: `java.nio.Files.move` without
    * REPLACE_EXISTING locally, `FileContext.rename` (Rename.NONE
    * semantics) elsewhere. Returns false on a lost race. */
  private def publishDir(f: org.apache.hadoop.fs.FileSystem, stage: Path,
      dst: Path): Boolean =
    if (f.getScheme == "file") {
      try {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(stage.toUri.getPath),
          java.nio.file.Paths.get(dst.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException => false
        // On Linux a TOCTOU loser — dst created by a concurrent writer
        // between the caller's existence check and this move — can get
        // ENOTEMPTY surfaced as the GENERIC FileSystemException
        // ("Directory not empty"), not DirectoryNotEmptyException
        // (observed: round-14's red concurrent-replay test). Classify by
        // re-checking dst: if it now exists we lost the race (false);
        // a genuine I/O failure (dst still absent) propagates.
        case e: java.nio.file.FileSystemException =>
          if (java.nio.file.Files.exists(
              java.nio.file.Paths.get(dst.toUri.getPath))) false
          else throw e
      }
    } else {
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, f.getConf)
          .rename(stage, dst) // no Rename.OVERWRITE: fails if dst exists
        true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }

  private val MaxCommitAttempts = 16

  /** Stage `df` as epoch `seq` and commit it atomically. Overwriting the
    * epoch dir first makes a re-run of a crashed commit converge; the
    * manifest publish is the commit point. Committing an already-committed
    * epoch is a no-op (idempotent replay, the reference's re-load case).
    *
    * `statsKey`/`statsCols` name the columns whose min/max are recorded
    * in the manifest entry (the zone map [[readRange]]/[[readRangeOn]]
    * prune on); integral columns record numeric stats, string/date/
    * timestamp columns lexicographic ones — see [[statsAndBloomOf]].
    *
    * CONCURRENT writers are fenced: each attempt re-reads the latest
    * manifest, appends this epoch, and publishes version N+1 via a
    * no-clobber CAS ([[casPublish]]). A writer that loses the race retries
    * against the winner's manifest — so simultaneous drains of DIFFERENT
    * epochs serialize into a linear manifest chain with both epochs
    * listed (the tolerance the reference's warehouse gets from BigQuery's
    * server-side load jobs, ref: Python-pipeline/ingestdatainbigquery.py:
    * 49-76), and simultaneous replays of the SAME epoch converge to one
    * listing (the loser observes the epoch already committed and no-ops).
    * A RACING VACUUM is tolerated too: the manifest compute re-verifies
    * ([[commitPublished]]) the published epoch dir still exists, and if a
    * vacuum that outlived its grace window deleted it (this drain stalled
    * longer than the window between publish and commit), the data is
    * re-published and the commit retried — so the manifest can only ever point at a dir that
    * existed at compute time. (The residual exists-check→CAS window is
    * micro-seconds against a grace window of hours; [[vacuum]]'s lease +
    * grace contract documents the operational bound.) Persistent
    * contention past [[MaxCommitAttempts]] fails loudly rather than
    * spinning.
    *
    * `partitionBy` lays each epoch dir out Hive-style on the named
    * columns — TWO-LEVEL pruning for range reads: the manifest zone map
    * skips whole epochs, and inside a scanned epoch Spark's partition
    * discovery turns the range predicate into PartitionFilters so only
    * matching subdirs are listed/read. Partition columns come back via
    * discovery (they move to the end of the schema; unionByName doesn't
    * care). Use columns with bounded cardinality (day/month buckets, not
    * raw keys) — one subdir per value per epoch. */
  def commitEpoch(spark: SparkSession, dir: String, df: DataFrame,
      seq: Long, statsKey: Option[String] = None,
      statsCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      bloomKey: Option[String] = None,
      zorderBy: Seq[String] = Nil): Unit =
    commitEpochImpl(spark, dir, df, seq, statsKey, statsCols, partitionBy,
      bloomKey, zorderBy)

  /** [[commitEpoch]] under a caller-chosen manifest entry NAME decoupled
    * from the rows' `load_seq`. Writers that self-assign a sequence
    * (SQL MERGE) use this so their entry can NEVER collide with the
    * external drain counter's `epoch_<seq>` namespace — a name collision
    * would make [[commitEpoch]]'s name-based idempotence silently no-op
    * the losing writer (a lost update). Same-name adoption remains sound
    * only when the name encodes the full identity of the write (base
    * version + content digest), the same contract `purgeDigest` rewrite
    * names carry. */
  def commitNamedEpoch(spark: SparkSession, dir: String, df: DataFrame,
      name: String, loadSeq: Long, statsKey: Option[String] = None,
      statsCols: Seq[String] = Nil,
      bloomKey: Option[String] = None,
      skipIfEmpty: Boolean = false): Unit = {
    require(!name.matches("epoch_\\d+"),
      s"entry name '$name' collides with the drain counter namespace")
    commitEpochImpl(spark, dir, df, loadSeq, statsKey, statsCols, Nil,
      bloomKey, Nil, entryName = Some(name), skipIfEmpty = skipIfEmpty)
  }

  /** Z-ORDER layout pass over 2–4 columns: bucket each column to
    * ⌊60/n⌋ bits (equal-width from one min/max job — 30/20/15 bits for
    * n=2/3/4, so the curve always spends the full 60-bit budget),
    * Morton-interleave the buckets
    * ([[graft.queries.Extended38.zvalN]] — pure codegen arithmetic),
    * then range-partition + locally sort on the curve value and drop
    * it. Each part file then covers one tight curve segment, so its
    * parquet row-group min/max are narrow in EVERY interleaved column
    * and a predicate on ANY of them prunes row groups — the multi-column
    * counterpart of `clusterBy`'s single-chain sort (which leaves
    * trailing columns full-span in every file). The same trade Delta's
    * OPTIMIZE ZORDER makes (2–4 columns is its documented sweet spot —
    * per-column selectivity degrades as n grows since each column gets
    * fewer curve bits); ZOrderSpec measures the per-column span
    * narrowing on 2- and 3-column layouts.
    *
    * Columns must be integral, date or timestamp (bucketing needs a
    * numeric embedding; equal-width buckets are sound for pruning under
    * any distribution — skew only costs selectivity, never rows). */
  private[graft] def zorderFrame(spark: SparkSession, df: DataFrame,
      cols: Seq[String], partitions: Int = 0): DataFrame = {
    require(cols.size >= 2 && cols.size <= 4,
      s"zorderBy interleaves 2-4 columns; got ${cols.mkString(",")}")
    val n = cols.size
    val bits = 60 / n
    def asLong(c: String): org.apache.spark.sql.Column =
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          col(c).cast("long")
        case DateType => datediff(col(c), to_date(lit("1970-01-01")))
          .cast("long")
        case TimestampType | TimestampNTZType => unix_micros(col(c).cast("timestamp"))
        case other => throw new IllegalArgumentException(
          s"zorderBy column '$c' of type $other is unsupported: integral, " +
            "date and timestamp columns have the numeric embedding " +
            "bucketing needs")
      }
    val bounds = df.agg(
      cols.flatMap(c => Seq(min(asLong(c)), max(asLong(c)))).head,
      cols.flatMap(c => Seq(min(asLong(c)), max(asLong(c)))).tail: _*)
      .head()
    if (cols.indices.exists(i => bounds.isNullAt(2 * i)))
      return df // an all-null column: no layout
    def bucket(c: String, i: Int): org.apache.spark.sql.Column = {
      val (mn, mx) = (bounds.getLong(2 * i), bounds.getLong(2 * i + 1))
      (width_bucket(asLong(c), lit(mn), lit(mx + 1), lit(1L << bits)) - 1)
        .cast("long")
    }
    val z = graft.queries.Extended38.zvalN(
      cols.zipWithIndex.map { case (c, i) => bucket(c, i) }, bits)
    val p = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    df.withColumn("__z", z)
      .repartitionByRange(p, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** [[commitEpoch]] and [[commitNamedEpoch]]: one entry, appended. */
  private def commitEpochImpl(spark: SparkSession, dir: String,
      df: DataFrame, seq: Long, statsKey: Option[String],
      statsCols: Seq[String], partitionBy: Seq[String],
      bloomKey: Option[String], zorderBy: Seq[String],
      entryName: Option[String] = None,
      skipIfEmpty: Boolean = false): Unit = {
    val base = entryName.getOrElse(s"epoch_$seq")
    val committed = committedEpochs(spark, dir)
    // default-named epochs sidestep RESTORE-undone same-name dirs (a
    // rollback lowers the load_seq floor, so seq re-use is the NATURAL
    // recovery, and adopting the undone dir would resurrect its rows)
    val epoch =
      if (entryName.isDefined || committed.contains(base)) base
      else resolveEpochName(spark, dir, base)
    if (committed.contains(epoch)) // replay
      return maybeAutoCompact(spark, dir, None)
    requireAdditiveSchema(spark, dir, df.schema, s"epoch $epoch", partitionBy)
    val f = fs(spark, dir)
    val epochPath = new Path(s"$dir/$epoch")
    val wanted = (statsKey.toSeq ++ statsCols).distinct
    val laidOut =
      if (zorderBy.isEmpty) df else zorderFrame(spark, df, zorderBy)
    commitPublished(spark, dir, s"epoch $epoch") { () =>
      val stats =
        publishWithStats(spark, dir, laidOut, epoch, wanted, bloomKey,
          partitionBy)
      // skipIfEmpty: a ZERO-ROW epoch commits NOTHING (the caller's
      // write was a no-op — e.g. an UPDATE whose predicate matched no
      // rows). Decided from the row count the stats pass already
      // computed, so the no-op check costs no extra scan; the empty
      // dir is dropped rather than left for vacuum.
      if (skipIfEmpty && stats.get(RowCountStat).exists(_.mn.toLong == 0L)) {
        f.delete(epochPath, true)
        None
      } else Some(appending(epoch, EpochEntry(epoch, stats)))
    }
  }

  /** Commit an epoch whose data was ALREADY STAGED by an external writer
    * (the DSv2 sink: executor tasks wrote parquet parts into `stage`,
    * which must live under `dir` so the publish is one same-filesystem
    * rename). Same visibility contract as [[commitEpoch]]: the move into
    * `$dir/epoch_<seq>` is invisible until the manifest CAS lands, a
    * concurrent replay of the same seq converges (the stage is dropped
    * and the winner adopted), and racing writers of OTHER epochs
    * serialize through the manifest loop. One difference, documented at
    * the sink: the staged data exists ONCE, so the vanish-and-republish
    * recovery `commitEpoch` runs when a mis-configured vacuum deletes
    * the published dir mid-commit is replaced by a loud failure — a
    * DSv2 write racing a grace-window-violating vacuum must surface,
    * not silently re-run the job's tasks. */
  def commitStagedEpoch(spark: SparkSession, dir: String, stage: Path,
      seq: Long, statsKey: Option[String] = None,
      statsCols: Seq[String] = Nil,
      bloomKey: Option[String] = None,
      entryName: Option[String] = None): Unit = {
    val baseName = entryName.getOrElse(s"epoch_$seq")
    val f = fs(spark, dir)
    requireAtomicScheme(f, dir)
    val committed = committedEpochs(spark, dir)
    // same RESTORE-undone-dir sidestep as [[commitEpochImpl]]
    val epoch =
      if (entryName.isDefined || committed.contains(baseName)) baseName
      else resolveEpochName(spark, dir, baseName)
    if (committed.contains(epoch)) {
      f.delete(stage, true) // idempotent replay: the committed copy wins
      return maybeAutoCompact(spark, dir, None)
    }
    val epochPath = new Path(s"$dir/$epoch")
    // staged schema from the parquet footers (one cheap driver read);
    // a refusal must not leak the staged dir
    scala.util.Try(spark.read.parquet(stage.toString).schema)
      .foreach { staged =>
        try requireAdditiveSchema(spark, dir, staged, s"staged epoch $epoch")
        catch { case e: Throwable => f.delete(stage, true); throw e }
      }
    val marker = new Path(stage, "_SUCCESS")
    if (!f.exists(marker)) f.create(marker, true).close()
    val wanted = (statsKey.toSeq ++ statsCols).distinct
    var published = false
    commitPublished(spark, dir, s"staged epoch $epoch") { () =>
      // the staged data exists once: a second publish means it vanished
      if (published) throw new java.io.IOException(
        s"staged epoch $epoch at $dir vanished before its manifest commit " +
          "— a vacuum with too short a grace window is racing this write")
      published = true
      if (f.exists(epochPath) &&
          f.exists(new Path(epochPath, "_SUCCESS"))) {
        f.delete(stage, true) // adopt a concurrent same-seq writer's publish
      } else {
        if (f.exists(epochPath)) f.delete(epochPath, true) // torn leftover
        if (!publishDir(f, stage, epochPath)) {
          f.delete(stage, true)
          if (!f.exists(epochPath)) throw new java.io.IOException(
            s"failed to publish $epochPath and no concurrent writer did either")
        }
      }
      val stats = statsAndBloomOf(spark, s"$dir/$epoch", wanted, bloomKey)._1
      Some(appending(epoch, EpochEntry(epoch, stats)))
    }
  }

  /** Zone-map stats, exact row count and (when `bloomKey` is set) the
    * key's non-null count derived from the just-written epoch's parquet
    * FOOTERS — ZERO Spark jobs and zero re-read of the data the write
    * just produced. Sound because the footers are OUR OWN writes:
    * parquet-mr records untruncated row-group min/max at its default
    * statistics config, INT64/INT32 stats order numerically, BINARY
    * UTF-8 stats order byte-wise unsigned (the same order Spark's
    * `min(cast(c as string))` uses), and date/timestamp values render
    * to the identical ISO strings the aggregate path records. Returns
    * None whenever anything is outside that contract — a wanted column
    * missing from the footers (partition column), an exotic physical
    * type, absent/unset statistics — and the caller falls back to the
    * aggregate scan, so this is purely an I/O optimization, never a
    * semantics change. */
  private def footerStatsOf(spark: SparkSession, path: String,
      cols: Seq[String], bloomKey: Option[String],
      autoCols: Seq[String] = Nil)
      : Option[(Map[String, ColStats], Long, Option[Long])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val p = new Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rels = relativeDataFiles(f, p)
    if (rels.isEmpty) return None
    // AUTO columns ([[statsAndBloomOf]]'s default-on zone maps) are
    // best-effort: any breach of the footer contract — absent from a
    // footer (partition column), exotic physical type, unset statistics,
    // non-UTC timestamp rendering, oversized string bounds — DROPS the
    // column from the recorded stats instead of failing the whole fast
    // path. Declared columns keep the strict all-or-fallback contract
    // (the caller asked for them; silently missing stats would break the
    // pruning they were declared for).
    val dead = scala.collection.mutable.Set.empty[String]
    // a column breached the footer contract: auto → drop it (false),
    // declared/bloom → the whole fast path must fall back (true)
    def breach(c: String): Boolean =
      if (autoCols.contains(c) && !cols.contains(c) &&
          !bloomKey.contains(c)) { dead += c; false }
      else true
    def renderMicros(us: Long): String = {
      val sec = Math.floorDiv(us, 1000000L)
      val frac = Math.floorMod(us, 1000000L)
      val ldt = java.time.LocalDateTime.ofEpochSecond(sec,
        frac.toInt * 1000, java.time.ZoneOffset.UTC)
      val base = ldt.format(java.time.format.DateTimeFormatter
        .ofPattern("uuuu-MM-dd HH:mm:ss"))
      if (frac == 0L) base
      else s"$base.${f"$frac%06d".reverse.dropWhile(_ == '0').reverse}"
    }
    var total = 0L
    var bloomNonNull = 0L
    val watch = (cols ++ autoCols ++ bloomKey).distinct
    // accumulators: col -> (typ, min, max) in the manifest's encoding
    val acc = scala.collection.mutable.Map.empty[String, ColStats]
    for ((rel, _) <- rels) {
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p, rel), f.getConf))
      try {
        val msg = r.getFileMetaData.getSchema
        for (c <- watch if !dead(c))
          if (!msg.containsField(c) ||
              !msg.getType(msg.getFieldIndex(c)).isPrimitive) {
            if (breach(c)) return None
            acc -= c
          }
        for (b <- r.getFooter.getBlocks.asScala) {
          total += b.getRowCount
          for (c <- watch if !dead(c)) {
            val ccOpt = b.getColumns.asScala
              .find(_.getPath.toDotString == c)
            if (ccOpt.isEmpty) {
              if (breach(c)) return None
              acc -= c
            } else {
            val cc = ccOpt.get
            val st = cc.getStatistics
            if (st == null || st.isEmpty || !st.isNumNullsSet) {
              if (breach(c)) return None
              acc -= c
            } else {
            if (bloomKey.contains(c))
              bloomNonNull += cc.getValueCount - st.getNumNulls
            if (cols.contains(c) || autoCols.contains(c)) {
              if (!st.hasNonNullValue) {
                // sound only if genuinely all-null; anything else means
                // the writer skipped stats — fall back (or drop the auto
                // column)
                if (st.getNumNulls != cc.getValueCount) {
                  if (breach(c)) return None
                  acc -= c
                }
              } else {
                val pt = msg.getType(msg.getFieldIndex(c)).asPrimitiveType
                val decoded: Option[(String, String, String)] =
                  (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
                    case (INT32, a: LogicalTypeAnnotation
                        .DateLogicalTypeAnnotation) =>
                      Some(("string",
                        java.time.LocalDate.ofEpochDay(
                          st.genericGetMin.asInstanceOf[Number].longValue)
                          .toString,
                        java.time.LocalDate.ofEpochDay(
                          st.genericGetMax.asInstanceOf[Number].longValue)
                          .toString))
                    case (INT32, a) if a == null ||
                        (a.isInstanceOf[LogicalTypeAnnotation
                          .IntLogicalTypeAnnotation] &&
                         a.asInstanceOf[LogicalTypeAnnotation
                          .IntLogicalTypeAnnotation].isSigned) =>
                      Some(("long",
                        st.genericGetMin.asInstanceOf[Number]
                          .longValue.toString,
                        st.genericGetMax.asInstanceOf[Number]
                          .longValue.toString))
                    case (INT64, a: LogicalTypeAnnotation
                        .TimestampLogicalTypeAnnotation) =>
                      // renderMicros renders at fixed UTC, but zone-map
                      // pruning compares against SESSION-timezone
                      // cast-to-string values — recording UTC-rendered
                      // stats under a non-UTC session would let pruning
                      // wrongly skip epochs. Keep the fast path only
                      // when the session renders identically (UTC);
                      // otherwise fall back to the aggregate scan,
                      // which records session-rendered stats.
                      val tz = spark.sessionState.conf.sessionLocalTimeZone
                      if (a.getUnit != LogicalTypeAnnotation.TimeUnit.MICROS ||
                          java.time.ZoneId.of(tz).getRules
                            .isFixedOffset() == false ||
                          java.time.ZoneId.of(tz).getRules
                            .getOffset(java.time.Instant.EPOCH)
                            .getTotalSeconds != 0) None
                      else Some(("string",
                        renderMicros(st.genericGetMin
                          .asInstanceOf[Number].longValue),
                        renderMicros(st.genericGetMax
                          .asInstanceOf[Number].longValue)))
                    case (INT64, a) if a == null ||
                        (a.isInstanceOf[LogicalTypeAnnotation
                          .IntLogicalTypeAnnotation] &&
                         a.asInstanceOf[LogicalTypeAnnotation
                          .IntLogicalTypeAnnotation].isSigned) =>
                      Some(("long",
                        st.genericGetMin.asInstanceOf[Number]
                          .longValue.toString,
                        st.genericGetMax.asInstanceOf[Number]
                          .longValue.toString))
                    case (BINARY, _: LogicalTypeAnnotation
                        .StringLogicalTypeAnnotation) =>
                      Some(("string",
                        st.genericGetMin
                          .asInstanceOf[org.apache.parquet.io.api.Binary]
                          .toStringUsingUTF8,
                        st.genericGetMax
                          .asInstanceOf[org.apache.parquet.io.api.Binary]
                          .toStringUsingUTF8))
                    case _ => None
                  }
                decoded match {
                  case None =>
                    if (breach(c)) return None
                    acc -= c
                  case Some((typ, mn, mx)) =>
                    acc.get(c) match {
                      case None => acc(c) = ColStats(typ, mn, mx)
                      case Some(prev) =>
                        val (nmn, nmx) =
                          if (typ == "long")
                            (math.min(prev.mn.toLong, mn.toLong).toString,
                              math.max(prev.mx.toLong, mx.toLong).toString)
                          else
                            // merge string bounds in UTF-8 BYTE order —
                            // the order the per-file footer stats are in
                            // and the order consumers compare against;
                            // Java String (UTF-16) order disagrees above
                            // the BMP and would record wrong table-level
                            // bounds ([[utf8Cmp]])
                            (utf8Min(prev.mn, mn), utf8Max(prev.mx, mx))
                        acc(c) = ColStats(typ, nmn, nmx)
                    }
                }
              }
            }
            }
            }
          }
        }
      } finally r.close()
    }
    // auto string columns with oversized bounds are DROPPED, not
    // truncated: the documents table's text columns would otherwise bloat
    // every manifest line by kilobytes, and lexicographic truncation is
    // only sound with an incremented upper bound — not worth the
    // complexity for stats nobody declared. Declared columns keep full
    // fidelity (the caller opted in).
    val capped = acc.toMap.filter { case (c, s) =>
      cols.contains(c) || s.typ != "string" ||
        (s.mn.length <= MaxAutoStatsLen && s.mx.length <= MaxAutoStatsLen)
    }
    Some((capped, total, bloomKey.map(_ => bloomNonNull)))
  }

  /** Zone-map min/max for `cols`, the exact row count, the read schema,
    * the data file list and (when `bloomKey` is set) the key's Bloom
    * filters, for a published data dir. Everything but the blooms comes
    * from the footers ([[footerStatsOf]]: zero Spark jobs); outside the
    * footer contract ONE aggregate computes every min/max, the total row
    * count and the bloom key's non-null count together. Integral columns
    * record `"long"` stats (numeric comparison); string/date/timestamp
    * columns record `"string"` stats (their canonical renderings sort
    * lexicographically in value order). Fractional and other types are
    * refused — their string forms do NOT sort numerically ("10.0" <
    * "9.0") so stats over them would prune wrongly. Columns that are
    * entirely null contribute no stats (conservative: the epoch is
    * always scanned). The blooms are ONE more query ([[buildBlooms]]),
    * a pass of its own because a filter must be sized by the exact
    * non-null count before it runs; each further composite-key part
    * adds one. Returns (stats entries, total row count). */
  private def statsAndBloomOf(spark: SparkSession, path: String,
      cols0: Seq[String], bloomKey0: Option[String],
      needCount: Boolean = false): (Map[String, ColStats], Long) = {
    // COMPOSITE keys expand to their parts here, once, for every commit
    // path: zone maps + blooms are recorded PER PART column (the
    // rendering is never stored), and the connector's verdict prunes per
    // part ([[graft.sources.v2.WarehouseConnector.epochMayMatch]])
    val cols = cols0.flatMap(keyParts).distinct
    val bloomKey = bloomKey0.map(bk => keyParts(bk).head)
    val bloomExtra = bloomKey0.toSeq.flatMap(bk => keyParts(bk).drop(1))
    // MULTI-COLUMN ZONE MAPS BY DEFAULT: beyond the caller-declared
    // stats columns, every stats-eligible column in the epoch's schema
    // gets footer-derived min/max recorded (best-effort — see
    // [[footerStatsOf]]'s auto contract), so an ad-hoc predicate on a
    // column the writer never anticipated still prunes epochs without
    // the writer having declared it. Free at commit time (the footers
    // are already read; AutoStatsSpec pins a 30-column commit at ONE
    // Spark job — the write itself); manifest growth stays O(cols)
    // with string bounds capped at [[MaxAutoStatsLen]] — measured FLAT
    // at 2806→2811 bytes/entry from 100→1000 entries (BENCH.md,
    // "Round 10 probes"). Auto stats ride the footer fast path ONLY —
    // they are an optimization, never worth a scan.
    val schema0 = {
      val p = new Path(path)
      graft.sources.v2.WarehouseConnector
        .epochSchema(spark, p.getParent.toString, p.getName)
    }
    val auto = schema0.fields.toSeq
      .filter(f => statsEligible(f.dataType)).map(_.name)
      .filterNot(cols.contains)
    // footer-derived fast path: zero Spark jobs, no re-read of the data
    // the write just produced (2× the ingest I/O at any real scale, plus
    // a fixed per-commit latency that compounds at 2 drains/day × years)
    footerStatsOf(spark, path, cols, bloomKey, auto) match {
      case Some((fstats, total, bloomN)) =>
        val schema = schema0
        val base = fstats +
          (RowCountStat -> ColStats("long", total.toString, total.toString)) +
          (SchemaStat -> ColStats("schema", schema.json, "-")) +
          filesStatOf(spark, path)
        val bloom = bloomKey.map(k =>
          buildBlooms(spark, schema, path, k, bloomN.getOrElse(0L)))
          .getOrElse(Map.empty) ++
          // remaining composite-key parts: sized by the row count (the
          // per-column non-null count was only footer-derived for the
          // first part) — conservative, still O(rows) one pass each
          bloomExtra.flatMap(k => buildBlooms(spark, schema, path, k, total))
        return (base ++ bloom, total)
      case None => // outside the footer contract: aggregate scan below
    }
    if (cols.isEmpty && bloomKey.isEmpty && !needCount)
      // no DECLARED aggregate wanted and the footer path failed: record
      // the read schema only (inference — no Spark job over the data);
      // auto stats are never worth a scan
      return (Map(SchemaStat -> ColStats("schema", schema0.json, "-"),
        filesStatOf(spark, path)), 0L)
    val df = spark.read.parquet(path)
    val typed: Seq[(String, String)] = cols.map { c =>
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => c -> "long"
        case StringType | DateType | TimestampType | TimestampNTZType =>
          c -> "string"
        case other => throw new IllegalArgumentException(
          s"zone-map stats on column '$c' of type $other are unsupported: " +
            "only integral (numeric order) and string/date/timestamp " +
            "(lexicographic ISO order) columns prune soundly")
      }
    }
    val statAggs = typed.flatMap { case (c, typ) =>
      val cast = if (typ == "long") col(c).cast("long") else col(c).cast("string")
      Seq(min(cast).cast("string").as(s"__mn_$c"), max(cast).cast("string").as(s"__mx_$c"))
    }
    val aggs = statAggs ++ Seq(count(lit(1)).as("__n")) ++
      bloomKey.toSeq.map(k => count(col(k).cast("long")).as("__bloom_n"))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val colStats = typed.zipWithIndex.flatMap { case ((c, typ), i) =>
      val (mn, mx) = (r.getString(2 * i), r.getString(2 * i + 1))
      if (mn == null) None else Some(c -> ColStats(typ, mn, mx))
    }.toMap + // exact row count rides the same entry (the RowCountStat
      // slot), so COUNT(*) over the connector can answer from metadata
      (RowCountStat -> ColStats("long", r.getLong(statAggs.size).toString,
        r.getLong(statAggs.size).toString)) +
      // the read schema rides along too (SchemaStat): df came from the
      // same partition-discovering read a future scan would do, so this
      // is exactly the schema planning needs — recorded here, resolving
      // it later costs zero I/O
      // mx is an ignored placeholder — an EMPTY trailing field would be
      // eaten by the parser's line trim
      (SchemaStat -> ColStats("schema", df.schema.json, "-")) +
      // ... and the data file list ([[FilesStat]]), so planning never
      // walks the store either
      filesStatOf(spark, path)
    val total = r.getLong(statAggs.size)
    val bloom = bloomKey.map(k =>
      buildBlooms(spark, df.schema, path, k, r.getLong(statAggs.size + 1)))
      .getOrElse(Map.empty) ++
      bloomExtra.flatMap(k => buildBlooms(spark, df.schema, path, k, total))
    (colStats ++ bloom, total)
  }

  /** The key's Bloom filters over an already-published dir: the LONG
    * bloom (`cast(key as long)` — the original surface; non-castable
    * strings drop out, which stays sound because a long lookup can
    * never match them either), plus — when the stored column is a
    * string — a STRING bloom over the raw values
    * ([[bloomStrStatsCol]]), so string-key point lookups and purges
    * prune epochs whose lexicographic key ranges all overlap. `nonNull`
    * is the column's footer/aggregate-counted non-null count; past
    * ~[[MaxBloomBytes]]×0.8 keys no filter is embedded (manifest reads
    * must stay cheap — put row-group blooms in the footers instead at
    * that scale). Both filters come from ONE query: a `select` of one
    * `bloom_filter_agg` per filter — the aggregate `stat.bloomFilter`
    * itself runs, at the same `n` and `optimalNumOfBits(n, 0.01)`, so
    * the bits are identical to a `stat.bloomFilter` of each column (the
    * aggregate skips nulls). */
  private def buildBlooms(spark: SparkSession, schema: StructType,
      path: String, k: String, nonNull: Long): Map[String, ColStats] = {
    import org.apache.spark.util.sketch.BloomFilter
    // ~9.6 bits/key at 1% fpp → stay under the manifest-size cap
    if (nonNull == 0 || nonNull > (MaxBloomBytes.toLong * 8 / 10))
      return Map.empty
    val n = math.max(1000L, nonNull)
    def bloomAgg(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftBridge.internalFn("bloom_filter_agg", c,
        lit(n), lit(BloomFilter.optimalNumOfBits(n, 0.01)))
    val isStr = schema.fields.find(_.name == k).map(_.dataType)
      .contains(StringType)
    // try_cast: non-castable strings drop out instead of failing the
    // commit under ANSI — a long lookup could never match them anyway
    val r = spark.read.schema(schema).parquet(path).select(
      bloomAgg(col(k).try_cast(LongType)) +:
        (if (isStr) Seq(bloomAgg(col(k).cast("string"))) else Nil): _*)
      .head()
    // the aggregate is NULL over zero non-null inputs — reachable when a
    // string key column holds no castable values. An explicitly-empty
    // filter is the RIGHT answer there: no long lookup can match a
    // column with no castable values, and an empty bloom prunes them
    // all soundly (no false negatives trivially).
    def bloomAt(i: Int, typ: String): ColStats = {
      val bf =
        if (r.isNullAt(i)) BloomFilter.create(n, 0.01)
        else BloomFilter.readFrom(r.getAs[Array[Byte]](i))
      ColStats(typ, serializeBloom(bf), nonNull.toString)
    }
    Map(bloomStatsCol(k) -> bloomAt(0, "bloom")) ++
      (if (isStr) Map(bloomStrStatsCol(k) -> bloomAt(1, "bloomstr"))
       else Map.empty)
  }

  /** Write `df` to a unique hidden stage dir and move it to `$dir/$name`
    * with a fail-if-exists publish. Concurrent same-name writers never
    * touch the same path; whichever publish lands first wins and the
    * loser ADOPTS it (same name means same logical content by the replay
    * contract). A visible dst is never deleted when it looks complete —
    * the write lands in a hidden stage and moves into place with ONE
    * atomic dir rename, so any complete-looking `$dir/$name` is a full
    * publish, possibly a concurrent writer's whose manifest commit is
    * about to land; deleting it (the pre-round-5 behavior) could strand a
    * just-committed manifest pointing at nothing. Only a dst MISSING its
    * `_SUCCESS` marker (e.g. a crashed vacuum's partial recursive delete)
    * is replaced. The marker is written by THIS code into the stage dir
    * before the move — never trusted to the committer's
    * `marksuccessfuljobs` setting, which session config can turn off —
    * so completeness detection cannot be disabled out from under the
    * adoption logic. */
  private def publishData(spark: SparkSession, dir: String, df: DataFrame,
      name: String, partitionBy: Seq[String] = Nil): Unit = {
    val f = fs(spark, dir)
    requireAtomicScheme(f, dir)
    val stage = new Path(s"$dir/.stage_${name}_${java.util.UUID.randomUUID}")
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stage.toString)
    val marker = new Path(stage, "_SUCCESS")
    if (!f.exists(marker)) f.create(marker, true).close()
    val dst = new Path(s"$dir/$name")
    def complete = f.exists(new Path(dst, "_SUCCESS"))
    if (f.exists(dst)) {
      if (complete) {
        // Adoption is only sound when the complete dir is a concurrent
        // SAME-NAME writer's publish (same logical content by the replay
        // contract). A dir that a retained HISTORICAL manifest references
        // but the current one does not is a RESTORE-undone epoch kept for
        // time travel — its rows were retracted; adopting it would
        // silently re-commit them and discard this writer's fresh data.
        // Commit paths disambiguate the name before reaching here
        // ([[resolveEpochName]]); this refusal is the safety net for any
        // path that did not.
        if (historicalOrphans(spark, dir).contains(name))
          throw new java.io.IOException(
            s"refusing to adopt $dst: the dir is referenced by a retained " +
              "HISTORICAL manifest but not the current one — a RESTORE " +
              "undid it, and adopting would resurrect the rolled-back " +
              "rows. Commit under a different entry name (or vacuum the " +
              "undone history first)")
        f.delete(stage, true); return // adopt
      }
      f.delete(dst, true) // torn leftover (crashed delete): replace
    }
    if (!publishDir(f, stage, dst)) {
      // lost the dir race to a concurrent same-name writer
      f.delete(stage, true)
      if (!f.exists(dst))
        throw new java.io.IOException(
          s"failed to publish $dst and no concurrent writer did either")
    }
  }

  /** [[publishData]], then the published dir's manifest stats — empty
    * when a racing vacuum already deleted the dir, which the commit's
    * compute then notices ([[commitPublished]]). */
  private def publishWithStats(spark: SparkSession, dir: String,
      df: DataFrame, name: String, wanted: Seq[String],
      bloomKey: Option[String], partitionBy: Seq[String] = Nil)
      : Map[String, ColStats] = {
    publishData(spark, dir, df, name, partitionBy)
    if (fs(spark, dir).exists(new Path(s"$dir/$name")))
      statsAndBloomOf(spark, s"$dir/$name", wanted, bloomKey)._1
    else Map.empty
  }

  /** The manifest CAS loop under [[commitPublished]], column-mapping
    * directives and [[restore]]: each attempt re-reads the latest
    * entries, asks `compute` for the next manifest (None = nothing left
    * to do), and publishes it as version N+1 via [[casPublish]]; a lost
    * race retries against the winner's manifest. Persistent contention
    * past [[MaxCommitAttempts]] fails loudly rather than spinning. A
    * caller that has just read the latest version passes it as `base`,
    * and the first attempt computes on it (a stale one only loses the
    * CAS). Returns the published entries, None when `compute` found
    * nothing to do. */
  private def commitManifest(spark: SparkSession, dir: String, what: String,
      base: Option[(Long, Seq[EpochEntry])] = None)(
      compute: Seq[EpochEntry] => Option[Seq[EpochEntry]])
      : Option[Seq[EpochEntry]] = {
    val f = fs(spark, dir)
    requireAtomicScheme(f, dir)
    f.mkdirs(new Path(manifestDir(dir)))
    var attempt = 0
    var known = base
    while (attempt < MaxCommitAttempts) {
      val (v, current) = known.getOrElse {
        val v = currentVersion(spark, dir); (v, committedEntriesAt(spark, dir, v))
      }
      known = None
      compute(current) match {
        case None => return None
        case Some(entries) =>
          val next = v + 1
          val tmp = new Path(
            s"${manifestDir(dir)}/.tmp_v${next}_${java.util.UUID.randomUUID}")
          val out = f.create(tmp, true)
          try out.write(entries.map(_.line).mkString("\n").getBytes("UTF-8"))
          finally out.close()
          if (casPublish(f, tmp, new Path(s"${manifestDir(dir)}/v$next.json")))
            return Some(entries)
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"manifest commit at $dir lost $MaxCommitAttempts consecutive races " +
        s"for $what — concurrent-writer storm or a stuck manifest dir")
  }

  /** Test seam: when set on the committing thread, [[commitPublished]]
    * runs it between each publish and its manifest CAS — the window a
    * racing vacuum or writer lands in. Commits the seam itself makes run
    * without it. */
  private[sinks] val beforeManifestCas = new ThreadLocal[() => Unit]

  /** What a writer's `place` step makes of the current manifest. */
  private sealed trait Placed
  /** An identical write already committed: nothing to do. */
  private case object Converged extends Placed
  /** The base the attempt published from was replaced: publish again. */
  private case object Stale extends Placed
  /** The next manifest's entries. */
  private final case class Place(entries: Seq[EpochEntry]) extends Placed

  /** The `place` step of a writer that appends `added`, converging when
    * `name` is already committed (a concurrent replay won). */
  private def appending(name: String, added: EpochEntry*)
      : Seq[EpochEntry] => Placed =
    entries =>
      if (entries.exists(_.name == name)) Converged else Place(entries ++ added)

  /** The one commit protocol of every warehouse writer. `publish` writes
    * the attempt's dirs and stats from the current base and returns its
    * `place` step (None: nothing to commit). Inside the manifest CAS
    * ([[commitManifest]]) `place` builds the next entry list, which
    * commits only if every entry it adds names a dir that still exists:
    * a manifest may name only dirs that exist at CAS time, and a vacuum
    * that outlived its grace window may have deleted one since the
    * publish. A vanished dir or a stale base publishes again, at most
    * [[MaxCommitAttempts]] times, then fails loudly. A caller that has
    * just read the latest manifest passes it as `base` for the first CAS
    * attempt. Returns the committed entries (None when nothing was
    * committed), after [[maybeAutoCompact]] has checked them. */
  private def commitPublished(spark: SparkSession, dir: String, what: String,
      base: Option[(Long, Seq[EpochEntry])] = None)(
      publish: () => Option[Seq[EpochEntry] => Placed])
      : Option[Seq[EpochEntry]] = {
    val f = fs(spark, dir)
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      val place = publish() match {
        case Some(p) => p
        case None => return None
      }
      Option(beforeManifestCas.get).foreach { seam =>
        beforeManifestCas.remove()
        try seam() finally beforeManifestCas.set(seam)
      }
      var again = false
      val committed = commitManifest(spark, dir, what,
          if (attempt == 0) base else None) { entries =>
        val had = entries.map(_.name).toSet
        place(entries) match {
          case Converged => None
          case Place(next) if next.forall(e =>
              had(e.name) || f.exists(new Path(s"$dir/${e.name}"))) =>
            Some(next)
          case _ => again = true; None // a vanished dir or a stale base
        }
      }
      if (!again) {
        maybeAutoCompact(spark, dir, committed)
        return committed
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"$what at $dir was published $MaxCommitAttempts times without " +
        "committing: its dirs kept vanishing (a vacuum racing it with a " +
        "grace window shorter than its stall) or its base kept being " +
        "replaced (another maintainer re-folding continuously)")
  }

  /** Fold every epoch committed as of now into ONE pre-merged dir. The
    * snapshot keeps each surviving row's original `load_seq`, so drains
    * that land after (or even DURING) the compaction still win the keyed
    * merge exactly as before — compaction changes read cost, never
    * results. Epochs committed concurrently with the fold are carried
    * over unfolded (the CAS loop re-reads them each attempt); replaying
    * an identical compaction no-ops.
    *
    * A compaction that loses STRUCTURALLY — another maintainer's fold
    * replaced this one's base prefix before it committed — RETRIES
    * against the winner (re-reads the new manifest, re-folds, re-commits)
    * instead of aborting, mirroring [[commitEpoch]]'s contention
    * behavior; its stale fold dir is left unreferenced for [[vacuum]].
    * Old manifests still reference the old epoch dirs, so time travel
    * keeps working until [[vacuum]].
    *
    * Scale: this is the maintenance pass that keeps read planning O(1) in
    * drain count — the union stays a handful of dirs no matter how many
    * epochs ever landed, and the fold itself is one merge + one write of
    * the LIVE rows only (dead versions drop out).
    *
    * `zorderBy = Seq(a, b)` writes the fold Z-ORDERED on the two columns
    * ([[zorderFrame]]) — Delta's `OPTIMIZE ... ZORDER BY` as the
    * maintenance pass: drains land in arrival order all day, compaction
    * rewrites the snapshot onto the curve so analyst predicates on
    * either column prune row groups. */
  def compact(spark: SparkSession, dir: String, key: String,
      statsKey: Option[String] = None,
      statsCols: Seq[String] = Nil,
      bloomKey: Option[String] = None,
      zorderBy: Seq[String] = Nil): Unit =
    commitPublished(spark, dir, "compaction") { () =>
      val baseV = currentVersion(spark, dir)
      val base =
        if (baseV == 0L) Nil else committedEntriesAt(spark, dir, baseV)
      if (base.size <= 1) None // nothing to fold
      else {
        val name = s"compact_v$baseV"
        val snapshot = readVersion(spark, dir, key, baseV)
        // the fold ALWAYS records load_seq stats when the column exists
        // (even through the aggregate fallback): without them the next
        // self-sequencing writer (SQL MERGE/INSERT) would pay a full scan
        // of the folded warehouse to find its load_seq floor
        val wanted = ((statsKey.toSeq ++ statsCols) ++
          (if (snapshot.columns.contains("load_seq")) Seq("load_seq")
           else Nil)).distinct
        val stats = publishWithStats(spark, dir,
          if (zorderBy.isEmpty) snapshot
          else zorderFrame(spark, snapshot, zorderBy), name, wanted, bloomKey)
        Some { entries =>
          if (entries.exists(_.name == name)) Converged // identical fold won
          else if (!entries.map(_.name).startsWith(base.map(_.name)))
            Stale // another fold replaced our base: fold it again
          else Place(EpochEntry(name, stats) +:
            // a tombstone committed DURING the fold is carried over, but
            // its suppression counts were computed against the pre-fold
            // log view (whose per-key versions the fold collapses) — strip
            // them so metadata COUNT refuses instead of miscounting; the
            // next fold absorbs the tombstone entirely
            stripSuppStats(entries.drop(base.size)))
        }
      }
    }

  /** ENFORCED compaction cadence — the maintenance policy the fold-cost
    * adjudication priced (BENCH.md `foldprofile`: fold after 100 epochs
    * = 14.8 s, after 1000 = 778 s; manifest length, not data size, is
    * the read-planning cost): when the table's persisted conf
    * (`_manifest/table_conf`, written by SQL `CREATE TABLE ...
    * TBLPROPERTIES ('compactEvery'='100', 'mergeKey'='k')` or
    * [[declareWriteDefaults]]) names a cadence AND a merge key, every
    * commit that grows the manifest to >= `compactEvery` entries folds
    * it down with the conf's own stats/bloom/zorder defaults — so the
    * reference's twice-daily cron drain can run for years without
    * anyone remembering to compact. Policy-free warehouses are
    * untouched (maintenance stays an explicit call). A failed auto-fold
    * propagates AFTER the commit is durable: re-running the drain
    * replays to a no-op and re-attempts the fold — convergent, never
    * silent. [[commitPublished]] passes the manifest it just published
    * as `committed`, so the cadence check reads no manifest (None: it
    * committed nothing — a writer's replay that found its entry already
    * committed, say — and the current manifest is read). */
  private def maybeAutoCompact(spark: SparkSession, dir: String,
      committed: Option[Seq[EpochEntry]]): Unit = {
    val conf = graft.sources.v2.WarehouseCatalog.tableConf(fs(spark, dir), dir)
    def csv(k: String): Seq[String] = conf.get(k).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    (conf.get("compactEvery").flatMap(_.toIntOption),
        conf.get("mergeKey")) match {
      case (Some(every), Some(key)) if every > 1 =>
        val n = committed.getOrElse(committedEntriesAt(spark, dir,
          currentVersion(spark, dir))).size
        if (n >= every)
          compact(spark, dir, key, statsKey = conf.get("statsKey"),
            statsCols = csv("statsCols"), bloomKey = conf.get("bloomKey"),
            zorderBy = csv("zorderBy"))
      case _ => ()
    }
  }

  /** Persist write defaults + maintenance policy for a warehouse born
    * OUTSIDE SQL DDL — the same `_manifest/table_conf` CREATE TABLE
    * publishes, with the same exclusive-create semantics (refuses when
    * one exists: the conf is part of the table's identity, not mutable
    * tuning — racing declarers must not silently swap policies). */
  def declareWriteDefaults(spark: SparkSession, dir: String,
      props: Map[String, String]): Unit = {
    val unknown = props.keySet --
      graft.sources.v2.WarehouseCatalog.WriteDefaultKeys
    require(unknown.isEmpty,
      s"unknown write-default keys: ${unknown.mkString(", ")} (allowed: " +
        graft.sources.v2.WarehouseCatalog.WriteDefaultKeys.toSeq.sorted
          .mkString(", ") + ")")
    val f = fs(spark, dir)
    requireAtomicScheme(f, dir)
    f.mkdirs(new Path(manifestDir(dir)))
    graft.sources.v2.WarehouseCatalog.writeTableConf(f, dir, props)
  }

  /** Operational report of the CURRENT snapshot — the `DESCRIBE DETAIL`
    * every table format ships: one row per manifest entry with its kind
    * (`epoch` / `compact` fold / `purged` rewrite), row and file counts,
    * which columns carry zone-map stats, and whether a key bloom rides
    * along. Row counts come from parquet footers (Spark's metadata-only
    * count), so the report never scans data; file counts are one
    * directory listing per entry. O(entries) planning jobs — compaction
    * keeps that small by design. */
  def describe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val entries = committedEntriesAt(spark, dir, currentVersion(spark, dir))
    val f = fs(spark, dir)
    entries.map { e =>
      val kind =
        if (isColMap(e.name)) "colmap"
        else if (isNoopTombstone(e.name)) "purge-log"
        else if (isTombstone(e.name)) "tombstone"
        else if (isPurgeRewrite(e.name)) "purged"
        else if (e.name.startsWith("compact_")) "compact"
        else if (e.name.startsWith("merge_")) "merge"
        else "epoch"
      def parquetFiles(p: Path): Seq[Path] =
        f.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) parquetFiles(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
          else Nil
        }
      // the manifest-recorded file list spares even the dir walk when
      // the entry carries one (legacy entries: walk)
      val files = e.stats.get(FilesStat) match {
        case Some(st) =>
          if (st.mn.isEmpty) Nil
          else st.mn.split('\n').toSeq.map(l =>
            new Path(s"$dir/${e.name}/${l.split("\t", 2)(1)}"))
        case None => parquetFiles(new Path(s"$dir/${e.name}"))
      }
      // row count: the manifest's exact count when recorded, else summed
      // parquet footer block counts — either way ZERO Spark jobs, so the
      // report stays O(entries) metadata reads at any entry count
      val nRows = e.stats.get(RowCountStat).map(_.mn.toLong).getOrElse {
        files.map { p =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              p, f.getConf))
          try {
            import scala.jdk.CollectionConverters._
            r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
          } finally r.close()
        }.sum
      }
      val statsCols = e.stats.keys
        .filterNot(c => c.startsWith("bloom(") || c.startsWith("bloomstr("))
        .filterNot(_.startsWith("#")) // reserved slots (row count), not columns
        .filterNot(_.startsWith("supp(")) // per-epoch suppression counts
        .toSeq.sorted.mkString(",")
      (e.name, kind, nRows, files.size.toLong, statsCols,
        e.stats.keys.exists(c =>
          c.startsWith("bloom(") || c.startsWith("bloomstr(")))
    }.toDF("entry_name", "kind", "n_rows", "n_files", "stats_cols",
      "has_bloom")
  }

  /** ROW-LEVEL PURGE: remove every version of the given merge keys from
    * the warehouse — the right-to-be-forgotten / contaminated-document
    * removal a long-lived corpus store must support, as a SELECTIVE
    * REWRITE: only epochs whose zone map/Bloom filter says they MAY hold
    * a purged key are rewritten (the same pruning stack reads use);
    * every other epoch dir is untouched — at 100 TB with keyed drains a
    * purge of k keys rewrites O(k) epochs, not the warehouse.
    *
    * Commit shape: each affected epoch is re-written (minus the keys) to
    * a new dir `<name>_p<V>` (V = the manifest version the rewrite was
    * planned against) with stats/blooms recomputed, and ONE manifest CAS
    * swaps all affected names in place — readers see the purge
    * all-or-nothing, and the swap preserves entry ORDER so `load_seq`
    * merge semantics are unchanged (rows keep their original load_seq;
    * the purge changes membership, never winners among surviving keys).
    *
    * Like Delta/Iceberg deletes: HISTORY still holds the purged rows —
    * older manifests reference the original dirs until [[vacuum]]
    * destroys them; a compliance purge is therefore purge + vacuum, and
    * the returned (epochsRewritten, rowsPurged) feeds the audit log.
    *
    * Concurrency: racing DRAINS are carried over by the CAS loop (their
    * new epochs commute with the swap — but their rows are NOT purged:
    * a drain that re-adds a purged key after the purge is new data, not
    * a leak); a racing COMPACTION that replaced the planned base
    * structurally retries the purge against the winner, mirroring
    * [[compact]]. Bloom false positives cost a no-op rewrite of a clean
    * epoch (~1% of affected candidates), never a missed row. */
  def purgeKeys(spark: SparkSession, dir: String, key: String,
      keys: Seq[Long], statsKey: Option[String] = None,
      statsCols: Seq[String] = Nil,
      bloomKey: Option[String] = None): (Int, Long) =
    purgeKeysImpl(spark, dir, key, "long", keys.map(_.toString), statsKey,
      statsCols, bloomKey)

  /** [[purgeKeys]] for STRING merge keys: the same selective
    * pruning-driven rewrite, with candidate epochs pruned by the key's
    * lexicographic zone map and string-key Bloom filter. */
  def purgeKeysStr(spark: SparkSession, dir: String, key: String,
      keys: Seq[String], statsKey: Option[String] = None,
      statsCols: Seq[String] = Nil,
      bloomKey: Option[String] = None): (Int, Long) =
    purgeKeysImpl(spark, dir, key, "string", keys, statsKey, statsCols,
      bloomKey)

  /** Is `n` a purge-rewrite entry name? Matches both the digest-suffixed
    * form (`<name>_p<V>_<8 hex>`) and the legacy digest-less `_p<V>`
    * names older manifests hold. */
  private[graft] def isPurgeRewrite(n: String): Boolean =
    n.matches(".*_p\\d+(_[0-9a-f]{8})?$")

  /** Is `n` a TOMBSTONE entry — a deletion-vector commit holding purged
    * KEYS instead of rewritten data? Tombstone entries are never read as
    * data: the connector's reader drops the rows they suppress
    * (merge-on-read). */
  private[graft] def isTombstone(n: String): Boolean =
    n.startsWith("tombstone_")

  /** Is `n` a NO-OP tombstone — the purge LOG a copy-on-write purge
    * commits alongside its rewrites (same manifest CAS) so the row-level
    * change feed can serve the retraction as `_change_type='delete'`
    * rows? The rewrite already physically removed every matching row,
    * so the key list suppresses NOTHING: snapshot reads and the
    * metadata MIN/MAX dirty check skip it entirely (zero drop-list
    * bytes, zero taint — the CoW purge keeps its zero-read-overhead
    * property), and the metadata COUNT treats it as suppressing 0 rows
    * with or without a recorded [[SuppTotalStat]]. Matches
    * [[isTombstone]] too (the `tombstone_` prefix), so every "not
    * data" classification holds automatically. */
  private[graft] def isNoopTombstone(n: String): Boolean =
    n.startsWith("tombstone_noop_")

  /** Is `n` an UPDATE PREIMAGE LOG — the matched winners' PRE-update
    * row versions a SQL UPDATE records alongside its postimage epoch
    * (`graft.update.logPreimages`), served by the row-level change feed
    * as `_change_type='update_preimage'` rows behind
    * `.option("includePreimages", true)` (Delta CDF's full update
    * contract)? The name rides the `tombstone_noop_` prefix ON PURPOSE:
    * every existing "not data / suppresses nothing" classification —
    * snapshot reads, drop lists, metadata COUNT, the MIN/MAX dirty
    * check, [[maxLoadSeq]] — holds for it automatically. The feed paths
    * that SERVE noop tombstones as delete rows must exclude it (an
    * update is not a retraction), and the stepped walk's purge refusal
    * must not fire on it. */
  private[graft] def isPreimageLog(n: String): Boolean =
    n.startsWith("tombstone_noop_pre_")

  /** Is `n` a DELETE PREIMAGE LOG — the purged keys' CURRENT WINNER
    * rows a deferred purge records alongside its tombstone
    * (`graft.delete.logPreimages`), served by the row-level change feed
    * as FULL-PAYLOAD `_change_type='delete'` rows behind
    * `.option("includePreimages", true)` — Delta CDF's full delete
    * contract (without it a tombstone serves key-only delete rows and
    * an auditor must time-travel + join to see WHAT was deleted)? Rides
    * the `tombstone_noop_` prefix like the update preimage log, so
    * every "not data / suppresses nothing" classification holds
    * automatically; feed paths must exclude it from key-list delete
    * serving (it holds full rows, not a key list) and from purge-LOG
    * detection. */
  private[graft] def isDeletePreimageLog(n: String): Boolean =
    n.startsWith("tombstone_noop_delpre_")

  /** BYTE budget, not entry count: at the documented 100k-key tombstone
    * ceiling a single key list is ~1 MB (longs) to tens of MB (long
    * strings) — an entry-count bound (the round-10 shape, 4096 entries)
    * could pin multiple GB on the driver for the process lifetime.
    * 256 MB holds hundreds of ceiling-sized lists (compaction folds
    * tombstones away long before that), and eviction re-reads are the
    * pre-cache transient cost, not a correctness event. */
  private val TombCacheMaxBytes: Long = 256L << 20
  private var tombCacheBytes: Long = 0L
  /** Session-wide tombstone key-list cache. Tombstone dirs are
    * publish-once immutable (their names encode base version + key-set
    * digest, and vacuum only destroys dirs no manifest references — a
    * cached entry a reader can still ask for is never deleted), so the
    * bytes are read ONCE per (dir, entry) however many plans consult
    * them: at T uncompacted tombstones every query plan re-read all T
    * key lists (~45 ms each of fs metadata + footer + page reads — the
    * scale probe's residual O(T) plan slope); with the cache only the
    * FIRST plan pays, and in parallel. Bounded LRU, same shape as the
    * connector's schema cache. */
  private val tombCache = new java.util.LinkedHashMap[
      String, (String, Array[Long], Array[String])](64, 0.75f, true)

  /** Estimated retained bytes of a cached key list (array payload +
    * per-String object overhead; exactness is irrelevant — the budget
    * only has to scale with reality). */
  private def tombEntryBytes(e: (String, Array[Long], Array[String])): Long =
    64L + 8L * e._2.length +
      e._3.foldLeft(0L)((a, s) => a + 48L + 2L * s.length)

  /** A tombstone's key list read DRIVER-SIDE through the connector's
    * per-file reader ([[graft.sources.v2.WarehouseConnector.readOnDriver]])
    * — ZERO Spark jobs. Key lists are O(purged keys) tiny by the purge
    * contract, but reading each through `spark.read.parquet(...).
    * collect()` costs a full driver JOB (~100 ms fixed): at T
    * uncompacted tombstones every merged read and connector plan paid
    * O(T) jobs — ~60 s at T=200 in the scale probe, pure scheduling
    * overhead over kilobytes of data. This path reads the same files in
    * ~1 ms each. Returns (typ, long keys, string keys) — exactly one
    * side is populated, per the tombstone parquet column's type. */
  private[graft] def readTombstoneKeys(spark: SparkSession, dir: String,
      name: String): (String, Array[Long], Array[String]) = {
    val cacheKey = s"$dir/$name"
    tombCache.synchronized {
      val hit = tombCache.get(cacheKey)
      if (hit != null) return hit
    }
    val computed = readTombstoneKeysUncached(spark, dir, name)
    cacheTombstoneKeys(cacheKey, computed)
    computed
  }

  private def cacheTombstoneKeys(cacheKey: String,
      keys: (String, Array[Long], Array[String])): Unit =
    tombCache.synchronized {
      val old = tombCache.put(cacheKey, keys)
      if (old != null) tombCacheBytes -= tombEntryBytes(old)
      tombCacheBytes += tombEntryBytes(keys)
      val it = tombCache.entrySet().iterator()
      while (tombCacheBytes > TombCacheMaxBytes && it.hasNext) {
        val eldest = it.next()
        if (eldest.getKey != cacheKey) { // never evict the fresh entry
          tombCacheBytes -= tombEntryBytes(eldest.getValue)
          it.remove()
        }
      }
    }

  private def readTombstoneKeysUncached(spark: SparkSession, dir: String,
      name: String): (String, Array[Long], Array[String]) = {
    import graft.sources.v2.{WarehouseConnector => WC, WarehouseFilePartition}
    val schema = WC.epochSchema(spark, dir, name)
    val longs = Array.newBuilder[Long]
    val strs = Array.newBuilder[String]
    // the key list is the tombstone parquet's one column
    schema.headOption.foreach { keyField =>
      val required = StructType(Seq(keyField))
      val reads = new WC.FileReads(required)
      val files = WC.listEpochFiles(fs(spark, dir), dir, name).map(f =>
        reads.plan(WarehouseFilePartition(f.path, f.len, f.partValues.toArray,
          applyDrops = false), schema, Nil))
      WC.readOnDriver(spark, required, Array.empty, reads, Nil, Nil, files) {
        r => if (!r.isNullAt(0)) keyField.dataType match {
          case StringType => strs += r.getUTF8String(0).toString
          case LongType => longs += r.getLong(0)
          case IntegerType => longs += r.getInt(0).toLong
          case _ => () // nothing else is ever written by publishTombstone
        }
      }
    }
    (if (schema.headOption.exists(_.dataType == StringType)) "string" else "long",
      longs.result(), strs.result())
  }

  /** The tombstone's key COLUMN NAME, from the first data file's footer
    * — one footer open, no Spark job; cached like the key lists
    * (publish-once immutability). */
  private val tombColCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()
  private[graft] def tombstoneKeyCol(spark: SparkSession, dir: String,
      name: String): Option[String] =
    tombColCache.computeIfAbsent(s"$dir/$name", _ => {
      val p = new Path(s"$dir/$name")
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      relativeDataFiles(f, p).headOption.map { case (rel, _) =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(p, rel), f.getConf))
        try r.getFileMetaData.getSchema.getFields.get(0).getName
        finally r.close()
      }
    })

  /** Deterministic 8-hex-char digest of a purge's key SET (md5 of the
    * sorted distinct keys, URL-encoded then comma-joined) — rides in the
    * rewrite dir name so two purges of DIFFERENT key sets planned at the
    * same base version can never adopt each other's rewrite: same-name
    * adoption is sound only for deterministic recomputations, which a
    * keyed purge is only when the name pins the keys. The per-key
    * URL-encoding makes the join INJECTIVE for string keys — a bare
    * comma-join would alias distinct sets (`{"a,b"}` vs `{"a","b"}`),
    * letting a second purge's manifest commit mistake the first's entry
    * for an identical replay and silently tombstone nothing. Long-key
    * digests are unchanged (decimal renderings encode to themselves),
    * and those stay expressible in ANSI SQL
    * (`substr(md5(string_agg(k, ',' ORDER BY k)), 1, 8)`). */
  private[sinks] def purgeDigest(keys: Seq[Long]): String =
    digestOf(keys.distinct.sorted.map(_.toString))

  /** FORMAT NOTE (round 11 → 12): the per-key URL-encoding changed the
    * digest for string keys containing `,`/`%`/non-ASCII (long-key and
    * plain-ASCII digests are unchanged — they encode to themselves). A
    * string-key purge REPLAYED against a warehouse whose tombstone was
    * published under the old bare comma-join digest therefore no longer
    * converges to the same entry name: it commits a fresh tombstone
    * whose suppression total is 0 (every key already suppressed) —
    * harmless-but-redundant, one extra manifest line until the next
    * fold, never a correctness event. No pre-change warehouses with
    * affected keys exist in this repo's history (the format is
    * round-11-born); if one ever matters, accept the legacy digest as
    * an identical-replay alias in the manifest-commit convergence
    * check. */
  private[sinks] def digestOf(sortedDistinctKeys: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sortedDistinctKeys
        .map(k => java.net.URLEncoder.encode(k, "UTF-8"))
        .mkString(",").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(8)

  /** The deletion lattice's TYPED KEYS: every tombstone/purge key list
    * carries a type tag — `"long"` (integral merge keys, the original
    * surface) or `"string"` (the reference's OWN natural key: `video_id`
    * is a string — ref: Python-pipeline/ingestdatainbigquery.py:89 dedups
    * `PARTITION BY video_id`). Keys travel in their CANONICAL string
    * rendering (longs as decimal, no leading zeros — Spark's own
    * cast-to-string); comparisons against data cast the column to the
    * key type, so `7` matches a stored `"7"` on a long purge and
    * `"VID07"` matches exactly on a string purge. Ordering (for digests
    * and min/max stats) is numeric for long, UTF-8 byte order for
    * string. */
  private[graft] def canonicalKeys(typ: String, keys: Seq[String]): Seq[String] = {
    require(typ == "long" || typ == "string",
      s"purge key type must be 'long' or 'string'; got '$typ'")
    typ match {
      case "long" => keys.map(_.toLong).distinct.sorted.map(_.toString)
      case _ => keys.distinct.sortWith(utf8Cmp(_, _) < 0)
    }
  }

  /** String → long accepting EXACTLY what Spark's `try_cast(s AS LONG)`
    * accepts (`UTF8String.toLongExact`: trims ASCII whitespace, takes an
    * optional sign, rejects fractions) — the ONE parse every driver-side
    * and connector-side tombstone/purge check must share. The engine
    * read paths match long tombstones via `try_cast(key as long)`, so a
    * check parsing any other way (e.g. `String.toLongOption`, which
    * rejects `" 7"` and `"+7"`) would disagree with the engine about
    * which rows a tombstone suppresses. */
  private[graft] def sparkLongCast(s: String): Option[Long] =
    try Some(UTF8String.fromString(s).toLongExact)
    catch { case _: NumberFormatException => None }

  /** COMPOSITE merge keys: `"k1,k2"` names a multi-column row identity.
    * Split into parts; a single-part key is the (unchanged) common
    * case. Every composite path routes through [[compositeCol]]'s
    * canonical rendering, so the whole single-key lattice (string
    * tombstones, purge key lists, suppression counts, feeds) carries
    * over without a second code path. */
  private[graft] def keyParts(key: String): Seq[String] =
    key.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** Composite-key separator: U+0001, below every printable character,
    * so renderings order part-wise; key parts must not contain it (an
    * unprintable control byte in a join key is corrupt data upstream). */
  private[graft] val CompositeSep = "\u0001"

  /** The canonical rendering of a composite key: parts cast to string,
    * joined by [[CompositeSep]] via null-PROPAGATING concat — a row
    * with ANY null part has a null composite key, and null keys are
    * never purge targets nor merge-identity (each null-keyed row is its
    * own group), the same null contract as single keys. */
  private[graft] def compositeCol(parts: Seq[String])
      : org.apache.spark.sql.Column =
    concat(parts.map(p => col(p).cast("string"))
      .flatMap(c => Seq(lit(CompositeSep), c)).drop(1): _*)

  /** The key column cast to the purge keys' comparison type. The long
    * cast is a TRY-cast: under ANSI (Spark 4's default) a plain cast
    * THROWS on non-numeric strings, but a long purge over a
    * string-keyed epoch must simply match nothing there (null never
    * equals a key). */
  private def keyCol(key: String, typ: String): org.apache.spark.sql.Column = {
    val parts = keyParts(key)
    // a composite rendering is a string; under typ "long" (a long
    // tombstone met a composite read — a misuse state) try_cast keeps
    // the comparison inert instead of ANSI-throwing
    if (parts.size > 1) {
      if (typ == "long") compositeCol(parts).try_cast(LongType)
      else compositeCol(parts)
    }
    else if (typ == "long") col(key).try_cast(LongType)
    else col(key).cast("string")
  }

  /** The keys as Spark literals of the comparison type. */
  private def keyLits(typ: String, ks: Seq[String]): Seq[Any] =
    if (typ == "long") ks.map(_.toLong) else ks

  /** The rows whose key is one of `keys` compared as `typ`, as one
    * source filter for the connector's pruning verdict
    * ([[graft.sources.v2.WarehouseConnector.epochMayMatch]]): an `In` of
    * the typed literals, or for a composite key one `EqualTo` per part
    * of each key's rendering, the keys joined by a balanced `Or`. A
    * rendering with the wrong number of parts (corrupt) prunes nothing. */
  private def keysFilter(key: String, typ: String,
      keys: Seq[String]): sf.Filter = {
    val parts = keyParts(key)
    def anyOf(fs: Seq[sf.Filter]): sf.Filter =
      if (fs.size <= 1) fs.headOption.getOrElse(sf.AlwaysFalse)
      else fs.splitAt(fs.size / 2) match {
        case (l, r) => sf.Or(anyOf(l), anyOf(r))
      }
    if (parts.size == 1) sf.In(key, keyLits(typ, keys).toArray)
    else anyOf(keys.map { k =>
      val vs = k.split(CompositeSep, -1)
      if (vs.length != parts.size) sf.AlwaysTrue
      else parts.zip(vs).map { case (p, v) => sf.EqualTo(p, v): sf.Filter }
        .reduce(sf.And(_, _))
    })
  }

  /** Publish (or RE-publish, deleting a lost CAS attempt's stale dir)
    * the delete-preimage log `preName`: the purged keys' CURRENT winner
    * rows — the exact rows the purge retracts from the merged read — in
    * one bloom/zone-pruned read. Returns the manifest entry (None when
    * no key is present: nothing to log) and the BASIS — the committed
    * entry names the victims read ran against. Commit closures compare
    * the basis against their own entry list and recompute on mismatch:
    * a concurrent drain committing a newer winner between the read and
    * the winning CAS would otherwise leave the logged preimage missing
    * the row the purge actually retracts (key-only feed and preimage
    * feed disagreeing). The basis is captured BEFORE the read, so a
    * commit sneaking between capture and read is indistinguishable from
    * one after it — both force the recompute. */
  private def publishDeletePreimage(spark: SparkSession, dir: String,
      key: String, typ: String, ks: Seq[String], preName: String)
      : (Option[(String, Map[String, ColStats])], Seq[String]) = {
    import spark.implicits._
    val f = fs(spark, dir)
    val p = new Path(s"$dir/$preName")
    val basis = committedEntriesAt(spark, dir,
      currentVersion(spark, dir)).map(_.name)
    if (f.exists(p)) f.delete(p, true)
    val keysDf = broadcast(
      if (typ == "long") ks.map(_.toLong).toDF("__dk")
      else ks.toDF("__dk"))
    val victims = read(spark, dir, key)
      .join(keysDf, keyCol(key, typ) === col("__dk"), "left_semi")
    publishData(spark, dir, victims, preName)
    val entry =
      if (!f.exists(p)) None
      else {
        val preStats = statsAndBloomOf(spark, s"$dir/$preName", Nil, None)._1
        if (preStats.get(RowCountStat).exists(_.mn.toLong == 0L)) {
          f.delete(p, true); None // keys not present: nothing to log
        } else Some(preName -> preStats)
      }
    (entry, basis)
  }

  /** Runs `tasks` on a driver thread pool made for this call, at most
    * `width` threads, and returns their results in task order. The
    * threads are created by the calling thread, so each inherits its
    * Spark local properties (SQL execution id, job group, job tags);
    * each makes `spark` its active session. Every task settles before
    * the first failure (in task order) is rethrown, and the pool is
    * shut down and drained of its threads before this returns. */
  private def onDriverPool[T](spark: SparkSession, width: Int,
      tasks: Seq[() => T]): Seq[T] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors,
      ThreadFactory, TimeUnit}
    val threads = new java.util.concurrent.atomic.AtomicInteger
    val pool = Executors.newFixedThreadPool(math.max(1, width),
      new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-rewrite-${threads.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })
    try {
      val futures = tasks.map(t => pool.submit(new Callable[T] {
        def call(): T = { SparkSession.setActiveSession(spark); t() }
      }))
      val settled = futures.map { f =>
        try scala.util.Success(f.get())
        catch { case e: ExecutionException => scala.util.Failure(e.getCause) }
      }
      settled.collectFirst { case scala.util.Failure(e) => throw e }
      settled.map(_.get)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** [[purgeKeys]] and [[purgeKeysStr]].
    *
    * The affected epochs' rewrites (read, filter, publish, footer stats,
    * blooms) and the purge log's publish are independent, so they run
    * concurrently on a driver pool of min(rewrites,
    * `defaultParallelism`) threads ([[onDriverPool]]): a rewrite of a
    * small epoch is a single-task job, so one at a time they would
    * leave the other cores idle. Results gather in manifest order, so
    * the CAS builds the same entry list a one-at-a-time loop would. A
    * failed rewrite fails the purge once the others settle; the
    * manifest is untouched and any dirs already published are orphans
    * for [[vacuum]], as after a crash. Each victim is read under its
    * manifest-recorded schema ([[WarehouseConnector.entrySchema]]), so
    * no schema-inference job runs. */
  private def purgeKeysImpl(spark: SparkSession, dir: String,
      key: String, typ: String, keys0: Seq[String],
      statsKey: Option[String], statsCols: Seq[String],
      bloomKey: Option[String]): (Int, Long) = {
    require(keys0.nonEmpty, "no keys to purge")
    val keys = canonicalKeys(typ, keys0)
    val hit = keysFilter(key, typ, keys)
    val wanted0 = (statsKey.toSeq ++ statsCols).distinct
    val digest = digestOf(keys)
    var result = (0, 0L) // (epochs rewritten, rows purged)
    commitPublished(spark, dir, s"purge of ${keys.size} keys") { () =>
      val baseV = currentVersion(spark, dir)
      val base =
        if (baseV == 0L) Nil else committedEntriesAt(spark, dir, baseV)
      // tombstones are key lists, not data — never rewrite targets (a
      // tombstone listing a CoW-purged key stays; suppressing already-
      // removed rows is a no-op)
      val affectedEntries = base.filter(e => !isTombstone(e.name) &&
        graft.sources.v2.WarehouseConnector.epochMayMatch(e, key, Seq(hit)))
      val affected = affectedEntries.map(_.name)
      result = (0, 0L)
      if (affected.isEmpty) None
      else {
        // (victim name, (rewrite name, rewrite stats), rows purged)
        type Rewrite = (String, (String, Map[String, ColStats]), Long)
        def rewrite(entry: EpochEntry): Rewrite = {
          val name = entry.name
          val df = spark.read.schema(graft.sources.v2.WarehouseConnector
            .entrySchema(spark, dir, entry)).parquet(s"$dir/$name")
          // a purge rewrite of an epoch carrying load_seq keeps its
          // load_seq stats (same rationale as compact's: the
          // self-sequencing floor must stay metadata-only)
          val wanted = (wanted0 ++
            (if (df.columns.contains("load_seq")) Seq("load_seq")
             else Nil)).distinct
          // coalesce: a NULL merge key is never a purge target (isin
          // over null is UNKNOWN, and WHERE would silently drop the row)
          val kept = df.where(
            coalesce(!keyCol(key, typ).isin(keyLits(typ, keys): _*),
              lit(true)))
          val newName = s"${name}_p${baseV}_$digest"
          publishData(spark, dir, kept, newName)
          // the kept count rides the stats pass over the published
          // rewrite — no separate kept.count()
          val (stats, keptCount) =
            statsAndBloomOf(spark, s"$dir/$newName", wanted, bloomKey,
              needCount = true)
          // the victim's pre-rewrite row count comes from its manifest
          // entry (every commit path records RowCountStat) — a scan-free
          // answer to what `df.count()` paid one full job per affected
          // epoch for; stats-less legacy entries still pay the count
          val origCount = entry.stats.get(RowCountStat).map(_.mn.toLong)
            .getOrElse(df.count())
          (name, (newName, stats), origCount - keptCount)
        }
        // PURGE LOG for the change feed: the rewrite names carry only the
        // key-set DIGEST, so without this the retraction was not
        // reconstructible and every feed range crossing the purge refused.
        // Publish the key list as a NO-OP tombstone ([[isNoopTombstone]])
        // committed in the SAME manifest CAS: snapshot reads skip it (the
        // rewrite already removed the rows — zero read overhead kept), the
        // feed serves its keys as `_change_type='delete'` rows exactly
        // like a deferred purge's.
        type Tomb = (String, Map[String, ColStats], Int)
        val results = onDriverPool[Either[Rewrite, Tomb]](spark,
          math.min(affectedEntries.size,
            spark.sparkContext.defaultParallelism),
          affectedEntries.map(e => () => Left(rewrite(e))) :+ (() =>
            Right(publishTombstone(spark, dir, key, typ, keys, baseV,
              noop = true))))
        val rewrites = results.collect { case Left(r) => r }
        val rewritten = rewrites.map { case (n, r, _) => n -> r }.toMap
        val purged = rewrites.map(_._3).sum
        val (tombName, tombStats, _) = results.last.toOption.get
        // DELETE PREIMAGES on the CoW path too (c86's contract, previously
        // deferred-purge-only): behind the same opt-in, the victims'
        // current winners publish as `tombstone_noop_delpre_<log>` in the
        // SAME CAS as the rewrites — the feed's includePreimages serves
        // them as full-payload delete rows replacing the purge log's
        // key-only rows. The read MUST precede the CAS (afterwards the
        // rewrites have destroyed the winners); the basis check recomputes
        // it when the manifest moved in between.
        val logPre =
          spark.conf.get("graft.delete.logPreimages", "false").toBoolean
        val preName = s"tombstone_noop_delpre_$tombName"
        var preEntry: Option[(String, Map[String, ColStats])] = None
        var preBasis: Option[Seq[String]] = None
        def computePreimage(): Unit = {
          val (e, basis) =
            publishDeletePreimage(spark, dir, key, typ, keys, preName)
          preEntry = e; preBasis = Some(basis)
        }
        if (logPre) computePreimage()
        result = (affected.size, purged)
        Some { entries =>
          // the rewrite names carry (baseV, key-set digest), so a match
          // proves THIS purge (same base, same keys) already committed —
          // a different purge's rewrite of the same epoch has a different
          // name and falls through to the structural-stale retry below
          if (entries.exists(e => rewritten.valuesIterator
              .exists(_._1 == e.name))) Converged
          else if (!affected.forall(entries.map(_.name).contains))
            Stale // a fold replaced our base: purge it again
          else {
            val mapped = stripSuppStats(entries.map { e =>
              // the rewrite changes the row counts outstanding tombstones'
              // suppression totals were computed against (a CoW purge may
              // physically remove rows a tombstone still counts) — strip
              // them or the pushed COUNT(*) would double-subtract
              rewritten.get(e.name) match {
                case Some((newName, stats)) => EpochEntry(newName, stats)
                case None => e
              }
            })
            // splice the purge log RIGHT AFTER the last rewritten entry:
            // an epoch committed concurrently (after our base, before the
            // CAS) commutes with the swap and its rows are NOT purged —
            // placing the log before it keeps the feed's delete `_pos`
            // BELOW the concurrent re-insert's, so a `__dpos > _pos`
            // consumer merge preserves the re-added key exactly as the
            // snapshot does
            if (mapped.exists(_.name == tombName)) Place(mapped)
            else {
              if (logPre && !preBasis.contains(entries.map(_.name)))
                computePreimage() // manifest moved since the victims read
              val idx = mapped.lastIndexWhere(e =>
                rewritten.valuesIterator.exists(_._1 == e.name))
              val log = EpochEntry(tombName, tombStats +
                (SuppTotalStat -> ColStats("long", "0", "0")))
              Place((mapped.take(idx + 1) ++
                preEntry.map { case (pn, ps) => EpochEntry(pn, ps) } :+ log) ++
                mapped.drop(idx + 1))
            }
          }
        }
      }
    }
    result
  }

  /** DELETION-VECTOR purge (merge-on-read): commit the purged keys as a
    * TOMBSTONE entry instead of rewriting epochs — the Delta/Iceberg
    * deletion-vector/equality-delete pattern. Purge-time cost is O(keys)
    * (one tiny parquet write + one manifest CAS), ZERO epoch rewrites;
    * the connector's reader drops the rows it suppresses, and
    * [[compact]] folds tombstones into its rewrite (the merged snapshot
    * it materializes has them applied), so read-side cost is bounded by
    * compaction cadence. Contrast [[purgeKeys]] (copy-on-write): at
    * 100 TB a handful of right-to-be-forgotten keys scattered across old
    * epochs forces full epoch rewrites there; here the same purge is one
    * metadata commit, with the data destruction deferred to
    * compact+vacuum (a COMPLIANCE purge is therefore tombstone → compact
    * → vacuum, same end state as CoW purge → vacuum).
    *
    * Semantics match [[purgeKeys]] exactly: every version of the named
    * keys committed BEFORE the tombstone is suppressed; a drain that
    * re-adds a key AFTER it is new data and survives (the tombstone's
    * manifest position orders it against epochs). NULL merge keys are
    * never purge targets. Replaying the same key set against the same
    * base version converges by name; the tombstone entry carries the
    * keys' min/max under the key column so point/range reads can skip
    * loading irrelevant tombstones. Returns the distinct key count
    * tombstoned (0 on an empty warehouse). */
  def purgeKeysDeferred(spark: SparkSession, dir: String, key: String,
      keys: Seq[Long]): Int =
    purgeKeysDeferredTyped(spark, dir, key, "long", keys.map(_.toString))

  /** [[purgeKeysDeferred]] for STRING merge keys (the reference's
    * `video_id`): same O(keys) tombstone commit, keys compared as
    * strings on read. */
  def purgeKeysDeferredStr(spark: SparkSession, dir: String, key: String,
      keys: Seq[String]): Int =
    purgeKeysDeferredTyped(spark, dir, key, "string", keys)

  private[graft] def purgeKeysDeferredTyped(spark: SparkSession,
      dir: String, key: String, typ: String, keys: Seq[String]): Int = {
    require(keys.nonEmpty, "no keys to purge")
    val baseV = currentVersion(spark, dir)
    if (baseV == 0L) return 0
    // the base manifest seeds the commit's first CAS attempt
    val base = committedEntriesAt(spark, dir, baseV)
    val ks = canonicalKeys(typ, keys)
    // DELETE PREIMAGES (c86, Delta CDF's full delete contract): behind
    // the opt-in, log the victims' CURRENT WINNERS — the exact rows this
    // tombstone retracts from the merged read — as a no-op
    // `tombstone_noop_delpre_<name>` entry in the SAME manifest CAS.
    // Cost: ONE bloom/zone-pruned merged read over the affected keys —
    // the same O(affected epochs) shape the suppression-count stat
    // already pays; replay converges on the tombstone's name (the
    // preimage name is derived from it).
    val logPre =
      spark.conf.get("graft.delete.logPreimages", "false").toBoolean
    // the preimage is RECOMPUTED whenever the manifest moved under us
    // (mirroring suppressionStats): the victims read pins the current
    // winners, but a concurrent drain committing a newer winner between
    // that read and the winning CAS would leave the logged preimage
    // missing the row the tombstone actually retracts — key-only feed
    // and preimage feed disagreeing. `preBasis` records the entry names
    // the victims read ran against; the commit closure compares and
    // recomputes on mismatch (CAS failure then re-runs the closure with
    // fresh entries, so the pair converges).
    commitPublished(spark, dir, s"tombstone of ${ks.size} keys",
        Some((baseV, base))) { () =>
      val (name, stats, _) =
        publishTombstone(spark, dir, key, typ, keys, baseV)
      val preName = s"tombstone_noop_delpre_$name"
      var preEntry: Option[(String, Map[String, ColStats])] = None
      var preBasis: Option[Seq[String]] = None
      def computePreimage(): Unit = {
        val (e, basis) =
          publishDeletePreimage(spark, dir, key, typ, ks, preName)
        preEntry = e; preBasis = Some(basis)
      }
      if (logPre) computePreimage()
      Some { entries =>
        if (entries.exists(_.name == name)) Converged // identical replay
        else {
          if (logPre && !preBasis.contains(entries.map(_.name)))
            computePreimage()
          Place(entries ++
            preEntry.map { case (pn, ps) => EpochEntry(pn, ps) } :+
            EpochEntry(name, stats ++
              suppressionStats(spark, dir, key, typ, ks, entries)))
        }
      }
    }
    ks.size
  }

  /** Deferred purge by COMPOSITE key (`key = "k1,k2"`): each element of
    * `keys` lists the part values in [[keyParts]] order, rendered
    * canonically (a long part's decimal form — exactly what
    * `cast(part AS STRING)` produces). The tombstone stores ONE string
    * column named with the composite key, holding the
    * [[CompositeSep]]-joined renderings; every read path suppresses by
    * comparing the same null-propagating rendering computed from the
    * part columns, and per-part zone maps + blooms prune the affected
    * epochs. All other purge contracts (O(keys) driver-sized lists,
    * manifest-CAS commit, suppression counts for metadata COUNT) carry
    * over verbatim. */
  def purgeCompositeKeysDeferred(spark: SparkSession, dir: String,
      key: String, keys: Seq[Seq[String]]): Int = {
    val parts = keyParts(key)
    require(parts.size > 1, s"'$key' is not a composite key")
    require(keys.forall(_.size == parts.size),
      s"every purge key must carry ${parts.size} parts (${parts.mkString(",")})")
    purgeKeysDeferredTyped(spark, dir, key, "string",
      keys.map(_.mkString(CompositeSep)))
  }

  /** Strip suppression bookkeeping from tombstone entries whose counts
    * no longer describe the manifest's data entries — any commit that
    * REWRITES data epochs (compact fold, CoW purge) invalidates them
    * (the rewrite changes the very row counts the totals were computed
    * against). A tombstone without [[SuppTotalStat]] degrades the
    * metadata COUNT to a scan — conservative, never wrong. */
  private def stripSuppStats(entries: Seq[EpochEntry]): Seq[EpochEntry] =
    entries.map { e =>
      if (!isTombstone(e.name)) e
      else e.copy(stats = e.stats.filterNot { case (k, _) =>
        k == SuppTotalStat || k.startsWith("supp(") })
    }

  /** Per-epoch NEWLY-suppressed row counts for a tombstone of `keys`
    * about to be appended to `entries` — recorded in the tombstone's
    * manifest entry ([[SuppTotalStat]] / [[suppStatsCol]]) so
    * `COUNT(*)` stays a metadata answer while tombstones are
    * outstanding: live rows = Σ data-entry row counts − Σ tombstone
    * supp totals, exact because each tombstone counts only rows NO
    * earlier tombstone already suppressed (the count runs over the same
    * log view — prior tombstones applied, try_cast key semantics — a
    * read serves).
    *
    * Cost: ONE Spark job over the bloom/zone-PRUNED affected epochs —
    * the keys an IN filter ([[keysFilter]]), the rows counted per entry
    * within each task (no shuffle), and files a covering earlier
    * tombstone hides left unopened — inside the manifest-CAS compute (so a
    * racing drain's epoch is re-counted on retry, keeping the total
    * coherent with the manifest the tombstone lands in). This trades the
    * deferred purge's pure-O(keys) commit for tombstone-durable
    * metadata counts; the pruning keeps it O(epochs that may hold the
    * keys), and compaction folds the cost away entirely. */
  private def suppressionStats(spark: SparkSession, dir: String,
      key: String, typ: String, keys: Seq[String],
      entries: Seq[EpochEntry]): Map[String, ColStats] = {
    val zero = Map(SuppTotalStat -> ColStats("long", "0", "0"))
    val hit = keysFilter(key, typ, keys)
    if (!entries.exists(e => !isTombstone(e.name) &&
        graft.sources.v2.WarehouseConnector.epochMayMatch(e, key, Seq(hit))))
      return zero
    val lv = logView(spark, dir, key, entries, Seq(hit))
    import spark.implicits._
    val nameAt = entries.map(_.name).zipWithIndex.map(_.swap).toMap
    val counts = lv.where(keyCol(key, typ).isin(keyLits(typ, keys): _*))
      .select(col("__pos")).as[Int]
      .mapPartitions { ps =>
        val n = scala.collection.mutable.HashMap.empty[Int, Long]
        ps.foreach(p => n(p) = n.getOrElse(p, 0L) + 1L)
        n.iterator
      }.collect().groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .map { case (pos, n) => nameAt(pos) -> n }
    val total = counts.map(_._2).sum
    counts.filter(_._2 > 0L).map { case (e, c) =>
      suppStatsCol(e) -> ColStats("long", c.toString, c.toString)
    }.toMap + (SuppTotalStat ->
      ColStats("long", total.toString, total.toString))
  }

  /** Publish (but do NOT commit) a tombstone entry's key-list data dir;
    * returns (entry name, manifest stats, distinct key count). The name
    * encodes (base version, key-set digest) so replays converge and
    * distinct key sets can never adopt each other. */
  private def publishTombstone(spark: SparkSession, dir: String,
      key: String, typ: String, keys: Seq[String],
      baseV: Long, noop: Boolean = false): (String, Map[String, ColStats], Int) = {
    val ks = canonicalKeys(typ, keys)
    val name =
      if (noop) s"tombstone_noop_v${baseV}_${digestOf(ks)}"
      else s"tombstone_v${baseV}_${digestOf(ks)}"
    import spark.implicits._
    // the tombstone parquet's key column carries the COMPARISON type —
    // the read paths recover it from the file schema, so long and string
    // tombstones coexist in one manifest.
    // coalesce(1): the key list is DRIVER-SIZED by the purge contract
    // (graft.delete.maxKeys), but a bare toDF plans it over
    // defaultParallelism slices — every tombstone wrote 32 tiny part
    // files, and every consumer (the driver-side key-list read, footer
    // probes, directory listings, vacuum) paid the 32-file tax per
    // tombstone. One task, one file, at any scale.
    publishData(spark, dir,
      (if (typ == "long") ks.map(_.toLong).toDF(key)
       else ks.toDF(key)).coalesce(1), name)
    // the dir now holds exactly this key list under this column (a
    // same-name dir is the same keys by the naming contract): the first
    // read after the commit finds both in the caches instead of the files
    cacheTombstoneKeys(s"$dir/$name",
      if (typ == "long") ("long", ks.map(_.toLong).toArray, Array.empty[String])
      else ("string", Array.empty[Long], ks.toArray))
    tombColCache.put(s"$dir/$name", Some(key))
    (name, Map(key -> ColStats(typ, ks.head, ks.last)), ks.size)
  }

  /** [[commitNamedEpoch]] PLUS a tombstone of `tombKeys` in the SAME
    * manifest CAS — the commit shape `MERGE ... WHEN NOT MATCHED BY
    * SOURCE THEN DELETE` needs: the merge delta and the
    * delete-the-absent keys must become visible together (a torn pair
    * would serve a half-merged table: updated rows without the deletes,
    * or deletes without the updates — both corrupt the upsert contract).
    * The tombstone entry is ordered AFTER the epoch entry; the two key
    * sets are disjoint by construction (deleted keys are exactly the
    * target keys the source does NOT carry), so relative order cannot
    * change a winner — it is fixed for determinism.
    *
    * Replay converges by the EPOCH entry's name (same contract as
    * [[commitNamedEpoch]]): a manifest already holding it proves this
    * exact merge committed, tombstone included. Empty `tombKeys`
    * delegates to the plain named commit. Keys are TYPED
    * ([[canonicalKeys]]), so string merge keys sync too. */
  private[graft] def commitNamedEpochWithTombstoneTyped(
      spark: SparkSession, dir: String, df: DataFrame, name: String,
      loadSeq: Long, key: String, keyTyp: String, tombKeys: Seq[String],
      statsKey: Option[String] = None, statsCols: Seq[String] = Nil,
      bloomKey: Option[String] = None): Unit = {
    if (tombKeys.isEmpty)
      return commitNamedEpoch(spark, dir, df, name, loadSeq, statsKey,
        statsCols, bloomKey)
    require(!name.matches("epoch_\\d+"),
      s"entry name '$name' collides with the drain counter namespace")
    if (committedEpochs(spark, dir).contains(name)) // replay
      return maybeAutoCompact(spark, dir, None)
    val baseV = currentVersion(spark, dir)
    val wanted = (statsKey.toSeq ++ statsCols).distinct
    commitPublished(spark, dir,
        s"merge epoch $name + tombstone of ${tombKeys.size} keys") { () =>
      // re-publishing converges: publishData adopts a complete existing
      // dir and replaces a vanished/torn one; the tombstone's name is
      // (baseV, digest)-stable across attempts
      val stats = publishWithStats(spark, dir, df, name, wanted, bloomKey)
      val (tombName, tombStats, _) =
        publishTombstone(spark, dir, key, keyTyp, tombKeys, baseV)
      Some { entries =>
        if (entries.exists(_.name == name)) Converged // a replay won
        else {
          val withEpoch = entries :+ EpochEntry(name, stats)
          // an identical tombstone may already exist (a prior
          // purgeKeysDeferred of the same key set at the same base):
          // duplicate names would corrupt position-keyed reads — reuse it
          // (its earlier position still suppresses the same keys; the
          // merge epoch holds none of them)
          Place(if (entries.exists(_.name == tombName)) withEpoch
          else withEpoch :+ EpochEntry(tombName, tombStats ++
            // supp counted over the PRE-merge entries: the merge epoch
            // holds none of the deleted keys by construction (they are
            // exactly the target keys the source does NOT carry)
            suppressionStats(spark, dir, key, keyTyp,
              canonicalKeys(keyTyp, tombKeys), entries)))
        }
      }
    }
  }

  /** [[commitNamedEpoch]] PLUS an UPDATE PREIMAGE LOG in the SAME
    * manifest CAS: `preRows` (the matched winners' PRE-update versions,
    * full rows) publish under `tombstone_noop_pre_<name>` and the pair
    * becomes visible together — a torn pair would serve postimages a
    * CDF consumer cannot pair with their preimages. Entry order is
    * preimage THEN epoch, so a `_pos`-sorted feed reads pre before post
    * (Delta CDF's row order for an update).
    *
    * The preimage entry is a NO-OP TOMBSTONE by name
    * ([[isPreimageLog]]): invisible to snapshot reads, drop lists,
    * metadata COUNT/MIN-MAX and [[maxLoadSeq]]; only a
    * `readChangeFeed` + `includePreimages` scan plans its files.
    *
    * `skipIfEmpty` mirrors the plain named commit: a zero-row epoch
    * (UPDATE matched nothing) commits NEITHER entry. Replay converges
    * by the EPOCH entry's name; the preimage name is derived from it,
    * so a replayed pair re-publishes into the same dirs and adopts.
    *
    * Scale: the preimage write is O(matched rows) — the same rows the
    * update already materialized — and costs nothing on any read path
    * that doesn't ask for preimages. */
  def commitNamedEpochWithPreimage(spark: SparkSession, dir: String,
      df: DataFrame, name: String, loadSeq: Long, preRows: DataFrame,
      statsKey: Option[String] = None, statsCols: Seq[String] = Nil,
      bloomKey: Option[String] = None,
      skipIfEmpty: Boolean = false): Unit = {
    require(!name.matches("epoch_\\d+"),
      s"entry name '$name' collides with the drain counter namespace")
    if (committedEpochs(spark, dir).contains(name)) // replay
      return maybeAutoCompact(spark, dir, None)
    val preName = s"tombstone_noop_pre_$name"
    val wanted = (statsKey.toSeq ++ statsCols).distinct
    commitPublished(spark, dir, s"update epoch $name + preimage log") { () =>
      val stats = publishWithStats(spark, dir, df, name, wanted, bloomKey)
      if (skipIfEmpty && stats.get(RowCountStat).exists(_.mn.toLong == 0L)) {
        fs(spark, dir).delete(new Path(s"$dir/$name"), true)
        None // zero-row update: no epoch, no preimage log
      } else {
        val preStats = publishWithStats(spark, dir, preRows, preName, Nil, None)
        Some(appending(name, EpochEntry(preName, preStats),
          EpochEntry(name, stats)))
      }
    }
  }

  /** TYPED MERGE commit (`graft.merge.typedFeedEntries`): up to FOUR
    * entries in ONE manifest CAS so the change feed can type a MERGE's
    * rows like Delta CDF does —
    *
    *   1. optional UPDATE PREIMAGE LOG (`tombstone_noop_pre_<updName>`),
    *   2. the matched branch's rows as `update_v<base>_m<digest>`
    *      (served `_change_type='update_postimage'` — the name rides
    *      the SQL UPDATE prefix, so feed typing needs zero new rules),
    *   3. the not-matched branch's rows as `merge_v<base>_<digest>`
    *      (served 'insert'),
    *   4. the WHEN NOT MATCHED BY SOURCE delete tombstone.
    *
    * The FOUR key sets are disjoint by construction (a source row
    * either matched or didn't; deleted keys are target-not-in-source),
    * so relative entry order never changes a winner. A torn subset is
    * unreachable — the CAS makes them visible together. Zero-row
    * branches commit nothing (their dir is dropped); replay converges
    * when EITHER data entry is already committed. */
  private[graft] def commitMergeTyped(spark: SparkSession, dir: String,
      baseName: String, updRows: DataFrame, insRows: DataFrame,
      preRows: Option[DataFrame], loadSeq: Long, key: String,
      keyTyp: String, tombKeys: Seq[String],
      statsKey: Option[String] = None, statsCols: Seq[String] = Nil,
      bloomKey: Option[String] = None): Unit = {
    val updName = baseName.replaceFirst("^merge_v", "update_v") + "_m"
    val insName = baseName
    val preName = s"tombstone_noop_pre_$updName"
    val committed = committedEpochs(spark, dir)
    if (committed.contains(updName) || committed.contains(insName))
      return maybeAutoCompact(spark, dir, None) // replay converged
    val wanted = (statsKey.toSeq ++ statsCols).distinct
    commitPublished(spark, dir, s"typed merge $baseName") { () =>
      // publish every non-empty part; row counts come from the stats
      // pass each publish already runs
      def publishPart(df: DataFrame, name: String, declared: Boolean,
          keepEmpty: Boolean = false): Option[EpochEntry] = {
        val stats = publishWithStats(spark, dir, df, name,
          if (declared) wanted else Nil, if (declared) bloomKey else None)
        if (!keepEmpty &&
            stats.get(RowCountStat).exists(_.mn.toLong == 0L)) {
          fs(spark, dir).delete(new Path(s"$dir/$name"), true)
          None // zero-row branch: no entry
        } else Some(EpochEntry(name, stats))
      }
      val upd = publishPart(updRows, updName, declared = true)
      // A DELETE-ONLY typed merge (both data branches zero-row, WHEN NOT
      // MATCHED BY SOURCE only) must still leave a replay marker: replay
      // convergence keys on the DATA entry names, and a tombstone's name
      // encodes the CURRENT base version — different on every replay — so
      // without a marker each replay stacks a fresh redundant tombstone
      // of the same keys (the exact bloat the CDC-mirror delete-only
      // batch fix closed). Keep insName as a ZERO-ROW marker entry in
      // that case; zero-row epochs are already first-class on the read
      // and feed paths (the mirror commits them every delete-only batch).
      val ins = publishPart(insRows, insName, declared = true,
        keepEmpty = upd.isEmpty && tombKeys.nonEmpty)
      val pre = if (upd.isEmpty) None
        else preRows.flatMap(publishPart(_, preName, declared = false))
      val tomb =
        if (tombKeys.isEmpty) None
        else Some(publishTombstone(spark, dir, key, keyTyp, tombKeys,
          currentVersion(spark, dir)))
      if (upd.isEmpty && ins.isEmpty && tomb.isEmpty) None // no-op merge
      else Some { entries =>
        if (entries.exists(e => e.name == updName || e.name == insName))
          Converged // concurrent replay won
        else {
          val withData = entries ++ pre ++ upd ++ ins
          Place(tomb match {
            case Some((tn, tStats, _)) if !entries.exists(_.name == tn) =>
              withData :+ EpochEntry(tn, tStats ++
                suppressionStats(spark, dir, key, keyTyp,
                  canonicalKeys(keyTyp, tombKeys), entries))
            case _ => withData
          })
        }
      }
    }
  }

  /** RESTORE (rollback): make the LIVE table's content equal the
    * manifest at `target`, committed FORWARD as a new version — history
    * is preserved and time travel still reaches the undone versions
    * until vacuum (Delta's RESTORE TABLE semantics: a rollback is a new
    * commit, never manifest surgery). The restored entry list is the
    * target manifest's VERBATIM — stats, blooms and tombstone
    * suppression totals were computed against exactly that entry set,
    * so every metadata answer (COUNT, MIN/MAX, load_seq floor) is
    * immediately valid at the restored state.
    *
    * Refused loudly: a target outside retained history, and a target
    * whose entry dirs vacuum already destroyed (the rows are
    * unrecoverable — restoring a dangling manifest would serve a read
    * that fails at listing).
    *
    * FEED CONTRACT: a restore REMOVES entries without a fold/purge
    * explanation, which an append-only change feed cannot express —
    * stepped and CDF ranges crossing a restore refuse loudly
    * ([[graft.sources.v2.WarehouseConnector.unexplainedRemovals]]);
    * `ignoreDeletes` opts into serving additions only (consumers keep
    * rows the rollback dropped — the same trade as purges). Re-ADDED
    * entries (a later re-restore forward) serve like any addition.
    *
    * Returns the restored manifest's entry count. Replaying an
    * identical restore converges (the manifest already matches →
    * no-op, no version bump). */
  def restore(spark: SparkSession, dir: String, target: Long): Int = {
    val cur = currentVersion(spark, dir)
    require(target >= 1L && target <= cur,
      s"restore target v$target is outside $dir's history [1, $cur]")
    val want = committedEntriesAt(spark, dir, target)
    val f = fs(spark, dir)
    val missing = want.map(_.name)
      .filterNot(n => f.exists(new Path(s"$dir/$n")))
    require(missing.isEmpty,
      s"cannot restore $dir to v$target: vacuum destroyed " +
        s"${missing.mkString(", ")} — the rows are unrecoverable")
    commitManifest(spark, dir, s"restore to v$target") { entries =>
      if (entries.map(_.name) == want.map(_.name)) None // already there
      else Some(want)
    }
    want.size
  }

  /** Retention pass: keep the latest `retainVersions` manifests, delete
    * older ones, then delete every data dir no retained manifest
    * references. This is the ONLY operation that destroys history — until
    * it runs, every version stays time-travelable. Returns (manifests,
    * data dirs) deleted.
    *
    * SINGLE-MAINTAINER is enforced, not assumed: an exclusive lock file
    * (`_manifest/.vacuum_lock`, atomic CREATE_NEW) fences concurrent
    * vacuums — a second vacuum fails loudly while the first holds the
    * lock. A lock older than `leaseMs` is presumed abandoned (crashed
    * maintainer) and broken; size the lease above any real vacuum's
    * runtime.
    *
    * Concurrent DRAINS are protected twice over: (1) the `graceMs` age
    * gate — a drain publishes its (visible) epoch dir BEFORE its manifest
    * commit lands, so an unreferenced-right-now dir may be an in-flight
    * commit, not garbage; dirs younger than `graceMs` are skipped (the
    * same modification-time guard Iceberg's remove-orphan-files ships
    * with); and (2) every writer commits through [[commitPublished]],
    * which re-verifies inside the manifest compute that each dir the
    * commit adds still exists and re-publishes if a vacuum beat it — so
    * even a writer that stalls LONGER than the grace window cannot commit
    * a manifest pointing at a deleted dir (the staged epoch, whose data
    * exists once, fails loudly instead). Pass graceMs=0 only where no
    * drain can be in flight (tests, single-process batteries). */
  def vacuum(spark: SparkSession, dir: String, retainVersions: Int,
      graceMs: Long = 60L * 60 * 1000,
      leaseMs: Long = 60L * 60 * 1000): (Int, Int) = {
    require(retainVersions >= 1, "must retain at least the current version")
    val f = fs(spark, dir)
    requireAtomicScheme(f, dir)
    f.mkdirs(new Path(manifestDir(dir)))
    val lock = new Path(s"${manifestDir(dir)}/.vacuum_lock")
    if (!casCreateFile(f, lock)) {
      // held — or abandoned by a crashed maintainer past its lease. The
      // mtime-check→delete gap below is the one unavoidable stale-break
      // race (filesystems have no compare-and-delete): a THIRD vacuum
      // acquiring in that microsecond window could lose its fresh lock.
      // The lease (default 1h) must exceed any real vacuum's runtime by
      // orders of magnitude, which makes simultaneous lease expiries —
      // the only way two breakers meet — an operator error, not a code
      // path. Same trade Iceberg's lock-breaking maintenance makes.
      val stale = try {
        System.currentTimeMillis() -
          f.getFileStatus(lock).getModificationTime > leaseMs
      } catch { case _: java.io.FileNotFoundException => true }
      if (!stale || { f.delete(lock, false); !casCreateFile(f, lock) })
        throw new ConcurrentVacuumException(
          s"vacuum already in progress at $dir (lock $lock; lease ${leaseMs}ms)")
    }
    try {
      val cur = currentVersion(spark, dir)
      val minKeep = math.max(1L, cur - retainVersions + 1)
      val referenced = (minKeep to cur)
        .flatMap(v => committedEpochsAt(spark, dir, v)).toSet
      val droppedManifests = (1L until minKeep).count { v =>
        f.delete(new Path(s"${manifestDir(dir)}/v$v.json"), false)
      }
      val cutoff = System.currentTimeMillis() - graceMs
      val droppedDirs = f.listStatus(new Path(dir))
        .filter(_.isDirectory)
        .filter { st =>
          val n = st.getPath.getName
          // visible unreferenced dirs AND abandoned hidden stage dirs (a
          // crashed writer's `.stage_*` never becomes referenced — without
          // this they accumulate forever); both age-gated by graceMs so
          // in-flight publishes are never touched
          n != "_manifest" && !referenced.contains(n) &&
            (!n.startsWith(".") || n.startsWith(".stage_")) &&
            st.getModificationTime <= cutoff
        }
        .count(st => f.delete(st.getPath, true))
      (droppedManifests, droppedDirs)
    } finally f.delete(lock, false)
  }

  /** Range read with EPOCH SKIPPING on the MERGE KEY: the rows whose key
    * casts to a long in [lo, hi]. The scan is handed the long bounds
    * ([[graft.sources.v2.WarehouseConnector.epochMayMatch]]), so epochs
    * whose key zone map lies outside them are never opened — pruning the
    * scan, the union and the merge in one stroke. Sound unconditionally
    * because the stats column IS the merge key: any epoch holding a
    * version of an in-range key covers that key in its stats, so every
    * epoch that could change an in-range winner is scanned
    * (filter-then-merge == merge-then-filter on the merge key). A
    * string-stored key's lexicographic zone map cannot bound its cast
    * (`"2"` sorts after `"10"`), so it keeps the epoch; stat-less entries
    * are scanned conservatively; skipped entries still contribute their
    * SCHEMA, so the result schema never depends on which epochs matched. */
  def readRange(spark: SparkSession, dir: String, key: String, lo: Long,
      hi: Long): DataFrame = {
    val entries = committedEntriesAt(spark, dir, currentVersion(spark, dir))
    require(entries.nonEmpty, s"no committed epochs at $dir")
    mergedRead(spark, dir, key, entries,
      Seq(sf.GreaterThanOrEqual(key, lo), sf.LessThanOrEqual(key, hi)),
      Some(_ => col(key).cast("long").between(lo, hi)))
  }

  /** Range read with EPOCH SKIPPING on an arbitrary stats column —
    * the reference's core access pattern is a `published_at` window over
    * the video warehouse (ref: Python-pipeline/dataingestion1.py:71-80
    * pushes publishedAfter/Before to the source; this is the same window
    * applied at the warehouse). The bounds are typed by the served
    * column: an integral column compares numerically when both bounds
    * parse as longs, anything else compares its string rendering in
    * UTF-8 byte order (pass ISO-8601 bounds for a date or timestamp). The
    * scan prunes by the typed bounds and the rows are filtered by them,
    * so the result never depends on which epochs were skipped.
    *
    * SOUNDNESS CONTRACT: pruning on a non-key column is correct iff the
    * column is VERSION-STABLE — every version of a merge key carries the
    * same value (true of `published_at` per video, a publish-time fact).
    * If versions may disagree, an epoch holding an out-of-range NEWER
    * version of an in-range key could be skipped and a dead older version
    * would win the merge. The merge key itself is always version-stable
    * (it's the identity), which is why [[readRange]] needs no contract. */
  def readRangeOn(spark: SparkSession, dir: String, key: String,
      statsCol: String, lo: String, hi: String): DataFrame = {
    val entries = committedEntriesAt(spark, dir, currentVersion(spark, dir))
    require(entries.nonEmpty, s"no committed epochs at $dir")
    val integral = graft.sources.v2.WarehouseConnector
      .servedSchema(spark, dir, entries).find(_.name.equalsIgnoreCase(statsCol))
      .exists(f => Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(f.dataType))
    val bounds: Option[(Any, Any)] = (lo.toLongOption, hi.toLongOption) match {
      case (Some(l), Some(h)) if integral => Some((l, h))
      case _ => None
    }
    val (l, h) = bounds.getOrElse((lo, hi))
    mergedRead(spark, dir, key, entries,
      Seq(sf.GreaterThanOrEqual(statsCol, l), sf.LessThanOrEqual(statsCol, h)),
      Some(_ => bounds.fold(col(statsCol).cast("string").between(lo, hi))(_ =>
        col(statsCol).between(l, h))))
  }

  /** POINT lookup with BLOOM-FILTER epoch skipping: the rows whose key
    * casts to `value`, handed to the scan as a long equality. Beyond the
    * min/max zone map (which cannot help when every epoch's key RANGE
    * overlaps — the common case for hash-ish or interleaved keys), each
    * epoch may carry a Bloom filter over the merge key (`bloomKey` at
    * [[commitEpoch]]): an epoch whose filter reports the key ABSENT
    * provably holds no version of it (no false negatives) and is never
    * opened. Exactly Delta/Iceberg's file-level bloom idea at the epoch
    * level. Epochs without a filter are scanned conservatively. On a
    * string-stored key the zone map is inconclusive (`try_cast` admits
    * `"07"`, `" 7"` and `"+7"`) and the long bloom, which hashes the
    * cast, decides; a string tombstone of `"7"` does not hide `"07"`
    * ([[graft.sources.v2.WarehouseConnector.epochMayMatch]],
    * [[graft.sources.v2.WarehouseConnector.pinnedDrops]]).
    *
    * Scale: a 1% - fpp filter costs ~1.2 MB per 1M keys in the manifest
    * — right for epoch deltas up to the low tens of millions of keys
    * (the reference's per-epoch fetch is ≤ thousands); beyond that, put
    * the bloom in the parquet footers (row-group level) and keep the
    * manifest lean — [[commitEpoch]] refuses to embed filters past
    * [[MaxBloomBytes]] rather than bloat every manifest read.
    *
    * When the epochs left hold few, small files (the connector's driver
    * bound), the scan decodes them on the driver when the lookup is
    * planned, only the columns the query uses, and the winner is picked
    * there: collecting the lookup runs no Spark job
    * ([[graft.sources.v2.WarehouseScan.driverRead]],
    * [[graft.plans.DriverAnswerStrategy]]). */
  def readPoint(spark: SparkSession, dir: String, key: String,
      value: Long): DataFrame = {
    val entries = committedEntriesAt(spark, dir, currentVersion(spark, dir))
    require(entries.nonEmpty, s"no committed epochs at $dir")
    mergedRead(spark, dir, key, entries, Seq(sf.EqualTo(key, value)),
      Some(_ => col(key).cast("long") === value))
  }

  /** [[readPoint]] of the rows whose key RENDERS as `value` (cast to
    * string), handed to the scan as a string equality: a string-stored
    * key prunes by its lexicographic zone map and both blooms, an
    * integral one compares numerically and plans no epoch for a value
    * that does not parse as a long. */
  def readPointStr(spark: SparkSession, dir: String, key: String,
      value: String): DataFrame = {
    val entries = committedEntriesAt(spark, dir, currentVersion(spark, dir))
    require(entries.nonEmpty, s"no committed epochs at $dir")
    mergedRead(spark, dir, key, entries, Seq(sf.EqualTo(key, value)),
      Some(_ => col(key).cast("string") === value))
  }

  /** COMPOSITE point lookup: `partVals` are the key parts' values in
    * [[keyParts]] order, canonical renderings (a long part's decimal
    * form). The scan is handed one string equality per part, and every
    * part prunes independently against its own column's zone map +
    * bloom, so a two-part lookup on a 100 TB store opens only the epochs
    * that may hold BOTH parts — the same O(matching epochs) shape as
    * single-key point reads. A part holds its value as [[renderedEq]]
    * compares. */
  def readPointComposite(spark: SparkSession, dir: String, key: String,
      partVals: Seq[String]): DataFrame = {
    val parts = keyParts(key)
    require(parts.size > 1, s"'$key' is not a composite key")
    require(partVals.size == parts.size,
      s"expected ${parts.size} part values (${parts.mkString(",")}), " +
        s"got ${partVals.size}")
    val entries = committedEntriesAt(spark, dir, currentVersion(spark, dir))
    require(entries.nonEmpty, s"no committed epochs at $dir")
    mergedRead(spark, dir, key, entries,
      parts.zip(partVals).map { case (p, v) => sf.EqualTo(p, v) },
      Some(df => parts.zip(partVals).map { case (p, v) =>
        renderedEq(df, p, v) }.reduce(_ && _)))
  }

  /** `cast(c AS STRING) = v` over `df`. On an integral column, when `v`
    * is the canonical rendering of a value of the column's type, the
    * same rows as the typed equality `c = v`, which pins `c` to a
    * literal; any other `v` matches no integral value, and keeps the
    * string comparison. */
  private def renderedEq(df: DataFrame, c: String,
      v: String): org.apache.spark.sql.Column = {
    def fits(t: DataType, n: Long): Boolean = t match {
      case ByteType => n.isValidByte
      case ShortType => n.isValidShort
      case IntegerType => n.isValidInt
      case LongType => true
      case _ => false
    }
    (df.schema.find(_.name.equalsIgnoreCase(c)), v.toLongOption) match {
      case (Some(f), Some(n)) if n.toString == v && fits(f.dataType, n) =>
        col(c) === lit(n).cast(f.dataType)
      case _ => col(c).cast("string") === v
    }
  }

  /** Manifest column slot a key's bloom rides in — distinct from the
    * key's min/max slot so both coexist in one entry. The LONG bloom
    * hashes `cast(key as long)`, so it is blind to a key's rendering. */
  private[graft] def bloomStatsCol(key: String) = s"bloom($key)"

  /** Manifest slot of the key's STRING bloom (raw string values, no
    * cast) — recorded alongside the long bloom when the stored column
    * is a string, so string-key point lookups and purges prune epochs
    * whose key ranges all overlap (the video_id case: hash-ish string
    * keys defeat zone maps; the bloom is the pruning that's left). */
  private[graft] def bloomStrStatsCol(key: String) = s"bloomstr($key)"

  private[sinks] val MaxBloomBytes = 4 << 20

  private def serializeBloom(
      bf: org.apache.spark.util.sketch.BloomFilter): String = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  /** Rows per part file of a drained epoch: about 128 MB of staged
    * parquet at ~128 bytes a row, the granule Spark's own scan split
    * (`spark.sql.files.maxPartitionBytes`) assumes. Without sizing a
    * 100-row drain run under 32 shuffle partitions writes 32 ~100-byte
    * files, and two cron drains a day compound into the fold probe's
    * measured cliff — 32k tiny files made the 1000-epoch merged read
    * ~12× slower than the same bytes in right-sized parts (BENCH.md
    * `foldprofile`). */
  private val DrainRowsPerPart: Long = 1L << 20

  /** Full drain epoch from a staging directory: sanitize/all-string
    * staging (F19/F20) → atomic epoch commit → staging truncate (K7).
    * The staged row count that sizes the parts comes from the parquet
    * footers, read on the driver (no Spark job). Crash anywhere and
    * re-running the same call converges: before the manifest rename the
    * epoch is invisible; after it, the epoch replay no-ops and only the
    * truncate re-runs. */
  def drain(spark: SparkSession, stagingDir: String, dir: String,
      seq: Long, statsKey: Option[String] = None): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val staged = spark.read.parquet(stagingDir)
    val f = fs(spark, stagingDir)
    val p = new Path(stagingDir)
    val rows = relativeDataFiles(f, p).map { case (rel, _) =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p, rel), f.getConf))
      try r.getRecordCount finally r.close()
    }.sum
    commitDrained(spark, staged, rows, dir, seq, statsKey)
    Warehouse.truncate(spark, stagingDir)
  }

  /** The drain's commit: `epoch` (of `rows` rows) sanitized and cast
    * all-string (F19/F20), stamped with `load_seq`, coalesced to
    * ceil(rows / [[DrainRowsPerPart]]) parts — never repartitioned: a
    * drain must not buy even part sizes with an extra shuffle of the
    * delta — and committed as epoch `seq`. Shared by the directory
    * [[drain]] and the frame drain [[Constraints.drainChecked]]. */
  private[sinks] def commitDrained(spark: SparkSession, epoch: DataFrame,
      rows: Long, dir: String, seq: Long,
      statsKey: Option[String] = None): Unit = {
    val parts = math.max(1L, (rows + DrainRowsPerPart - 1) / DrainRowsPerPart)
    val sized = Warehouse.allString(Warehouse.sanitizeColumns(epoch))
      .withColumn("load_seq", lit(seq))
      .coalesce(math.min(parts, Int.MaxValue.toLong).toInt)
    commitEpoch(spark, dir, sized, seq, statsKey)
  }
}

/** A second vacuum attempted while one holds the exclusive lock. */
final class ConcurrentVacuumException(msg: String)
    extends RuntimeException(msg)
