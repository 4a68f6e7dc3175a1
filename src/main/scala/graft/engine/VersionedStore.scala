package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Versioned parquet table store: Delta-style time travel without Delta
  * jars (design per "Delta Lake: High-Performance ACID Table Storage
  * over Cloud Object Stores", VLDB 2020 — PAPERS.md §3; the reference
  * runs on Delta, so version history / `VERSION AS OF` reads are part of
  * its operational surface).
  *
  * Layout: `root/table/files/` holds immutable, uniquely-named parquet
  * data files; `root/table/v{N}.manifest` is snapshot N — line 1 the
  * snapshot's schema JSON, then one data-file name per line; `root/table/
  * _current` is the commit pointer (a one-line file naming the live
  * version). Writers stage data files and the manifest fully, then
  * commit by rewriting the pointer — readers of version K never observe
  * a partial write because data files and manifests are immutable after
  * commit.
  *
  * This is the Delta-log file-reuse design, not copy-on-write snapshots:
  * `upsert` rewrites ONLY the data files that contain a matched key
  * (found by a column-pruned key scan + left-semi join against the
  * source keys — one shuffle, file list collected is #files-sized, the
  * same driver-side footprint as a Delta log replay); every untouched
  * file is SHARED by reference between v{N} and v{N+1}. At 100 TB, an
  * upsert touching 0.1% of keys rewrites ~0.1% of files, not the table.
  * Schema evolution is manifest-level: old files keep their narrow
  * schema on disk and the parquet reader fills absent columns with NULL
  * under the manifest's (wider) read schema, so time travel stays
  * schema-faithful per version.
  *
  * Concurrency: OPTIMISTIC, like the Delta log's mutual exclusion on the
  * commit entry (VLDB 2020 §3.2). The durability point of version N is
  * the create-if-absent of `v{N}.manifest` (an atomic hard-link from a
  * staged temp — POSIX link(2) fails if the name exists, so exactly one
  * writer can ever own a version number). A writer that loses the race
  * re-reads the new head and re-checks LOGICAL conflicts: if the files it
  * rewrote are untouched and no concurrently-added file can contain its
  * keys (manifest-stats range check), it REBASES — re-targets its
  * already-staged output onto the new head's manifest, no recompute — and
  * retries; otherwise it cleans up its staged files and refuses with
  * `ConcurrentModificationException`. `_current` is a monotonic advisory
  * cache only; the head is always max(v{N}.manifest).
  */
class VersionedStore(root: String) {

  private def tdir(name: String) = new java.io.File(s"$root/$name")
  private def filesDir(name: String) = new java.io.File(tdir(name), "files")
  private def manifestFile(name: String, v: Long) =
    new java.io.File(tdir(name), s"v$v.manifest")
  private def pointer(name: String) = new java.io.File(tdir(name), "_current")

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The live version number, or None before the first commit. The head
    * is the MAX COMMITTED MANIFEST, not the `_current` pointer: manifest
    * creation is the atomic commit point, so a manifest that exists is
    * durable even if its writer crashed before refreshing the advisory
    * pointer. */
  def currentVersion(name: String): Option[Long] = history(name).lastOption

  /** All committed versions, ascending. */
  def history(name: String): Seq[Long] = {
    val d = tdir(name)
    if (!d.exists) Seq.empty
    else d.listFiles.toSeq
      .filter(f => f.isFile && f.getName.matches("v\\d+\\.manifest"))
      .map(_.getName.stripSuffix(".manifest").drop(1).toLong).sorted
  }

  /** Snapshot v's (schema, data-file names) — the manifest contents.
    * File names are relative to the table's `files/` directory. */
  def manifest(name: String, v: Long): (StructType, Seq[String]) = {
    val (schema, entries) = manifestWithStats(name, v)
    (schema, entries.map(_.file))
  }

  /** One manifest data-file entry: name + per-column (min, max) stats
    * rendered as strings (absent for files staged before stats, or for
    * all-NULL columns). The skipping substrate: Delta-log §3's per-file
    * stats, minus the jar.
    *
    * `dvs` names the DELETION-VECTOR files attached to this data file by
    * merge-on-read deletes ([[deleteMor]]) — each a parquet of (data-file
    * name, physical row position) pairs whose positions are dead in the
    * snapshot (Delta deletion vectors / Iceberg v2 position deletes).
    * Immutable like everything else: a later MOR delete appends another
    * dv name; a rewrite of the data file drops the association. The
    * manifest line renders them as a third tab field (older manifests
    * simply have no third field, so the format is backward-compatible). */
  case class FileEntry(file: String, stats: Map[String, (String, String)],
      dvs: Seq[String] = Nil)

  def manifestWithStats(name: String, v: Long): (StructType, Seq[FileEntry]) = {
    val (schema, entries, _) = readManifest(name, v)
    (schema, entries)
  }

  /** Streaming-transaction watermarks recorded in snapshot `v`'s manifest
    * (`#txn` header lines): the highest batch id each named writer has
    * committed — Delta's `txn` action, the exactly-once substrate for
    * foreachBatch sinks. Carried forward by every commit. */
  def txns(name: String, v: Long): Map[String, Long] = readManifest(name, v)._3

  /** Parsed-manifest cache. Manifests are IMMUTABLE once committed (the
    * hard link is the durability point and nothing ever rewrites one), so
    * a (table, version) entry can never go stale — the only lifecycle
    * event is deletion by vacuum, which the exists() probe below honors
    * (a vacuumed version misses the cache and fails the require exactly
    * like an uncached read). The win is proportional to FILE COUNT: one
    * manifest parse is entries × stats-regex work, and a commit path
    * reads the head manifest ~3× (pruning, txn carry-forward, rebase
    * checks) while changesSince walks 2 per step — at 100 TB with
    * millions of files this is the difference between one log replay per
    * snapshot and one per call (Delta caches its reconstructed snapshot
    * state the same way). */
  private val mfCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      (StructType, Seq[FileEntry], Map[String, Long])]()

  /** Per-table bound on cached parsed manifests. Unbounded, a long-lived
    * streaming writer (thousands of micro-batch commits) leaks memory
    * proportional to versions × file count even after vacuum deletes the
    * manifest files (r10 ADVICE). Access is recency-biased — commit
    * carry-forward reads v−1, changesSince walks recent ranges — so past
    * the bound the OLDEST versions evict; a miss on an evicted version
    * just re-parses the immutable manifest file. */
  private[graft] val MfCacheKeepVersions = 64

  /** Cache insert + per-table oldest-version pruning (one definition for
    * both the parse path and the commit's seed-on-write). */
  private def cachePut(name: String, v: Long,
      parsed: (StructType, Seq[FileEntry], Map[String, Long])): Unit = {
    mfCache.put((name, v), parsed)
    val vs = mfCache.keySet.asScala.collect { case (`name`, ver) => ver }.toSeq
    if (vs.size > MfCacheKeepVersions)
      vs.sorted.dropRight(MfCacheKeepVersions)
        .foreach(old => mfCache.remove((name, old)))
  }

  /** Versions currently held in the parsed-manifest cache for `name`
    * (retention-spec observability). */
  private[graft] def cachedManifestVersions(name: String): Seq[Long] =
    mfCache.keySet.asScala.collect { case (`name`, v) => v }.toSeq.sorted

  private def readManifest(name: String, v: Long)
      : (StructType, Seq[FileEntry], Map[String, Long]) = {
    val mf = manifestFile(name, v)
    require(mf.exists, s"$name has no version $v (history: ${history(name)})")
    val cached = mfCache.get((name, v))
    if (cached != null) return cached
    val lines = java.nio.file.Files.readAllLines(mf.toPath).asScala.toSeq
    val entries = lines.tail.filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
      line.split("\t", 3) match {
        case Array(f) => FileEntry(f, Map.empty)
        case Array(f, json) => FileEntry(f, parseStats(json))
        case Array(f, json, dvs) =>
          FileEntry(f, parseStats(json), dvs.split(",").toSeq.filter(_.nonEmpty))
      }
    }
    val txns = lines.filter(_.startsWith("#txn\t")).map { l =>
      val Array(_, app, id) = l.split("\t", 3)
      app -> id.toLong
    }.toMap
    val parsed = (DataType.fromJson(lines.head).asInstanceOf[StructType], entries, txns)
    cachePut(name, v, parsed)
    parsed
  }

  // ---- per-file stats: render / parse / prune ---------------------------

  /** Minimal JSON for {"col":["min","max"],...}: values are stat strings
    * (numeric rendering or raw string), escaped like Verify's dumper. */
  private def jsonEsc(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def renderStats(stats: Map[String, (String, String)]): String =
    stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
      s"${jsonEsc(c)}:[${jsonEsc(mn)},${jsonEsc(mx)}]"
    }.mkString("{", ",", "}")

  private def parseStats(json: String): Map[String, (String, String)] = {
    // tolerant hand-rolled parser for the exact shape renderStats emits
    val entry = """"((?:[^"\\]|\\.)*)":\["((?:[^"\\]|\\.)*)","((?:[^"\\]|\\.)*)"\]""".r
    def un(s: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < s.length) {
        s(i) match {
          case '\\' if i + 1 < s.length =>
            s(i + 1) match {
              case 'n' => b.append('\n'); i += 2
              case 'r' => b.append('\r'); i += 2
              case 't' => b.append('\t'); i += 2
              case 'u' => b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
              case c => b.append(c); i += 2
            }
          case c => b.append(c); i += 1
        }
      }
      b.toString
    }
    entry.findAllMatchIn(json).map(m => un(m.group(1)) -> (un(m.group(2)), un(m.group(3)))).toMap
  }

  /** Column types whose stats support range pruning: NUMERIC only.
    * Strings are deliberately excluded — parquet orders binary stats by
    * unsigned bytes while an engine-side comparison would use UTF-16
    * code units; the orders disagree outside ASCII, and a disagreement
    * prunes a file that contains a match (data loss). Timestamps/dates/
    * arrays likewise skipped, not mis-compared. */
  private def statable(f: StructField): Boolean =
    f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]

  /** Can a file with stats `(mn, mx)` contain a key in `[srcMin, srcMax]`?
    * Missing/unparseable stats → conservatively yes. Compared in
    * BigDecimal: exact for 64-bit integers (a double round-trip could
    * narrow a range at the 2^53 boundary and wrongly dismiss a file). */
  private[engine] def rangesOverlap(dt: DataType,
      file: Option[(String, String)], src: (String, String)): Boolean =
    file match {
      case None => true
      case Some((mn, mx)) =>
        try {
          BigDecimal(mn) <= BigDecimal(src._2) && BigDecimal(mx) >= BigDecimal(src._1)
        } catch { case _: NumberFormatException => true }
    }

  /** Per-file (min, max) of every numeric column, read from the PARQUET
    * FOOTERS of the just-staged files — row-group stats already exist
    * there, so collection is a driver-side metadata read (milliseconds),
    * not a Spark job re-scanning staged data. A column missing stats in
    * ANY row group (or all-NULL) is left absent for that file —
    * conservative, never wrong. */
  private def collectStats(spark: SparkSession, name: String, schema: StructType,
      files: Seq[String]): Map[String, Map[String, (String, String)]] = {
    val numeric = schema.fields.filter(statable).map(_.name).toSet
    if (files.isEmpty) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(absPath(name, f)), conf))
      try {
        // (min, max) per column, exact-merged across row groups; a row
        // group without usable stats poisons the column for this file
        val agg = scala.collection.mutable.Map[String, (BigDecimal, BigDecimal)]()
        val poisoned = scala.collection.mutable.Set[String]()
        for (b <- reader.getFooter.getBlocks.asScala;
             c <- b.getColumns.asScala) {
          val colName = c.getPath.toDotString
          if (numeric.contains(colName) && !poisoned.contains(colName)) {
            val st = c.getStatistics
            val ok = st != null && st.hasNonNullValue
            val parsed =
              if (!ok) None
              else try Some((BigDecimal(st.genericGetMin.toString),
                BigDecimal(st.genericGetMax.toString)))
              catch { case _: NumberFormatException => None }  // NaN/Inf floats
            parsed match {
              case Some((mn, mx)) =>
                val merged = agg.get(colName) match {
                  case Some((omn, omx)) => (omn.min(mn), omx.max(mx))
                  case None => (mn, mx)
                }
                agg(colName) = merged
              case None =>
                poisoned += colName
                agg.remove(colName)
                ()
            }
          }
        }
        // exact file row count from the footer (Σ block rows) under the
        // reserved "__rows" key: the substrate for metadata-only COUNT
        // (Delta answers count(*) from the log the same way)
        val rows = reader.getRecordCount
        f -> (agg.map { case (c, (mn, mx)) =>
          c -> (mn.bigDecimal.toPlainString, mx.bigDecimal.toPlainString)
        }.toMap + ("__rows" -> (rows.toString, rows.toString)))
      } finally reader.close()
    }.toMap
  }

  private def absPath(name: String, file: String): String =
    new java.io.File(filesDir(name), file).getAbsolutePath

  /** Per-writer uniqueness token: staged artifacts (data files, temp
    * manifests, stage dirs) embed it so concurrent writers can never
    * clobber each other's staging — only the manifest link arbitrates. */
  private def newToken(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  private val MaxCommitRetries = 50

  /** Vacuum's horizon for files no manifest names yet: Delta's 7-day
    * VACUUM default. A writer's parquet parts sit in `_stage_*` and then
    * in `files/` BEFORE its manifest link commits them, so an
    * unreferenced file may belong to a commit in flight; only age tells
    * a crashed writer's leftovers from a live one's. */
  private val OrphanRetentionMs = 7L * 24 * 60 * 60 * 1000

  /** Source feeds at or below this observed row count broadcast their
    * keys into the hit-detection semi-join (≤ ~8 MB of key data at
    * typical key widths — inside executor broadcast budgets). Larger
    * feeds fall back to the shuffle semi-join: a backfill-sized source
    * must never be collected driver-side. */
  private val BroadcastKeyRows = 262144L

  /** A merge whose measured total input rows (observed source count +
    * manifest __rows of the hit files) stay under this bound runs its
    * staging write AQE-free on ~2M-rows/task reducers — a fixed tiny
    * shape where adaptive replanning is pure scheduler overhead. */
  private val TinyMergeRows = 8000000L

  /** Write `df`'s rows as new immutable data files (names unique per
    * writer token — version-independent, so a rebased commit reuses them
    * unchanged); returns the new file names. The parquet job writes into
    * a staging directory, then the part files move (same filesystem,
    * atomic per file) into `files/` — a crashed stage leaves only orphans
    * that vacuum sweeps past its retention horizon, never a corrupt
    * snapshot. */
  private def stage(df: DataFrame, name: String): Seq[String] = {
    val tok = newToken()
    val stageDir = new java.io.File(tdir(name), s"_stage_$tok")
    df.write.mode(SaveMode.Overwrite).parquet(stageDir.getAbsolutePath)
    val fd = filesDir(name)
    fd.mkdirs()
    val parts = stageDir.listFiles.toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val moved = parts.zipWithIndex.map { case (p, i) =>
      val nm = f"d-$tok-p$i%05d.parquet"
      java.nio.file.Files.move(p.toPath, new java.io.File(fd, nm).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      nm
    }
    Fs.deleteRec(stageDir)
    moved
  }

  /** Attempt to commit version `v`: stage the manifest to a writer-unique
    * temp, then CREATE-IF-ABSENT it at `v{N}.manifest` via an atomic hard
    * link — POSIX link(2) fails when the target name exists, so exactly
    * one writer wins each version number; this link is the commit's
    * durability point. Writer-transaction watermarks carry forward from
    * the manifest being superseded (v-1), updated with `addTxn` — atomic
    * with the commit itself. Returns false when the race was lost (the
    * caller re-reads the head, conflict-checks, and rebases or refuses).
    * The advisory pointer advances only after a WON commit. */
  private def tryCommitManifest(name: String, v: Long, schema: StructType,
      entries: Seq[FileEntry], addTxn: Option[(String, Long)] = None): Boolean = {
    tdir(name).mkdirs()
    val carried =
      if (v > 1L && manifestFile(name, v - 1L).exists) txns(name, v - 1L)
      else Map.empty[String, Long]
    val allTxns = carried ++ addTxn
    val txnLines = allTxns.toSeq.sortBy(_._1).map { case (a, i) => s"#txn\t$a\t$i" }
    val lines = entries.map { e =>
      if (e.dvs.nonEmpty) s"${e.file}\t${renderStats(e.stats)}\t${e.dvs.mkString(",")}"
      else if (e.stats.isEmpty) e.file
      else s"${e.file}\t${renderStats(e.stats)}"
    }
    val mfTmp = new java.io.File(tdir(name), s"_v$v-${newToken()}.manifest.tmp")
    java.nio.file.Files.write(mfTmp.toPath,
      (Seq(nullable(schema).json) ++ txnLines ++ lines).mkString("\n").getBytes)
    try {
      java.nio.file.Files.createLink(manifestFile(name, v).toPath, mfTmp.toPath)
      // the winner knows exactly what it just wrote: seed the parsed-
      // manifest cache so the commit's own read-back (read()/CDF walks/
      // the next commit's carry-forward) never re-parses it. Values
      // mirror a parse of the file byte-for-byte: renderStats/parseStats
      // round-trip exactly and the schema is stored nullable.
      cachePut(name, v, (nullable(schema), entries, allTxns))
      advancePointer(name, v)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      java.nio.file.Files.deleteIfExists(mfTmp.toPath); ()
    }
  }

  /** Best-effort monotonic refresh of the `_current` advisory pointer
    * (debugging convenience only — the head is max manifest). */
  private def advancePointer(name: String, v: Long): Unit = {
    val p = pointer(name)
    val cur =
      if (!p.exists) 0L
      else new String(java.nio.file.Files.readAllBytes(p.toPath))
        .trim.toLongOption.getOrElse(0L)
    if (v > cur) {
      val tmp = new java.io.File(tdir(name), s"_current-${newToken()}.tmp")
      java.nio.file.Files.write(tmp.toPath, v.toString.getBytes)
      java.nio.file.Files.move(tmp.toPath, pointer(name).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }
  }

  /** Stage `df`'s rows and compute their per-file stats entries. */
  private def stageWithStats(df: DataFrame, name: String): Seq[FileEntry] = {
    val staged = stage(df, name)
    val schema = nullable(df.schema)
    val stats = collectStats(df.sparkSession, name, schema, staged)
    staged.map(f => FileEntry(f, stats.getOrElse(f, Map.empty)))
  }

  private def dropStaged(name: String, staged: Seq[FileEntry]): Unit =
    staged.foreach(e => new java.io.File(absPath(name, e.file)).delete())

  /** Commit `df` as the next version (a full snapshot: an overwrite
    * genuinely replaces the table, so nothing is shareable). A blind
    * overwrite never logically conflicts — a lost commit race simply
    * re-targets the same staged files at the new head. */
  def write(df: DataFrame, name: String): Long = {
    val staged = stageWithStats(df, name)
    validateStaged(df.sparkSession, name, df.schema, staged.map(_.file))
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val next = currentVersion(name).getOrElse(0L) + 1L
      if (tryCommitManifest(name, next, df.schema, staged)) return next
      attempt += 1
    }
    dropStaged(name, staged)
    throw new IllegalStateException(s"write('$name'): $MaxCommitRetries commit attempts lost")
  }

  // ---- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT analog) -----

  private def checksFile(name: String) = new java.io.File(tdir(name), "_checks")

  /** Declared CHECK constraints: (name, SQL predicate) pairs, applied to
    * every row entering new data files (write and upsert commits). */
  def checks(name: String): Seq[(String, String)] = {
    val f = checksFile(name)
    if (!f.exists) Seq.empty
    else java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
      // a tab-less line cannot be a constraint (writes are atomic, but
      // never let a damaged file wedge every commit to the table)
      .filter(l => l.nonEmpty && l.contains('\t')).map { l =>
        val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
      }
  }

  /** Atomic one-file rewrite shared by add/dropCheck: stage to a tmp
    * sibling, ATOMIC_MOVE into place — a crash leaves either the old or
    * the new constraint set, never a truncated file. */
  private def writeChecks(name: String, all: Seq[(String, String)]): Unit = {
    val tmp = new java.io.File(tdir(name), "_checks.tmp")
    tdir(name).mkdirs()
    java.nio.file.Files.writeString(tmp.toPath,
      all.map { case (n, p) => s"$n\t$p" }.mkString("", "\n", "\n"))
    java.nio.file.Files.move(tmp.toPath, checksFile(name).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Add (or replace) a CHECK constraint. Like Delta's ADD CONSTRAINT,
    * the predicate must already hold for every row of the live snapshot
    * — validated here with one aggregate scan — after which every
    * write/upsert validates its incoming rows and REFUSES the commit
    * (nothing staged, table unchanged) on any violation. */
  def addCheck(spark: SparkSession, name: String, checkName: String,
      predicate: String): Unit = {
    require(!checkName.contains('\t') && !checkName.contains('\n') &&
      !predicate.contains('\n'), "constraint names/predicates are single-line")
    if (currentVersion(name).isDefined)
      validateWith(read(spark, name), Seq(checkName -> predicate), name)
    writeChecks(name, checks(name).filterNot(_._1 == checkName) :+
      (checkName -> predicate))
  }

  def dropCheck(name: String, checkName: String): Unit = {
    val rest = checks(name).filterNot(_._1 == checkName)
    if (rest.isEmpty) { checksFile(name).delete(); () }
    else writeChecks(name, rest)
  }

  /** All declared checks in ONE aggregate over the STAGED data files
    * (violation counts, not row dumps — the commit-path cost is one
    * parquet pass of the incoming rows, zero when no checks exist). A
    * NULL predicate result is a violation, per SQL CHECK's
    * NOT(coalesce(p, false)) refusal reading — Delta's WriteIntoDelta
    * does the same.
    *
    * Validating the staged FILES, not the incoming plan, is load-
    * bearing: a nondeterministic source (rand(), current_timestamp)
    * would otherwise be evaluated once for validation and AGAIN for
    * staging, and the staged draw could violate what the validated draw
    * passed. On violation the staged files are deleted before the
    * refusal propagates — no orphans, table untouched. */
  private def validateStaged(spark: SparkSession, name: String,
      schema: StructType, files: Seq[String]): Unit = {
    val cs = checks(name)
    if (cs.isEmpty || files.isEmpty) return
    // NonFatal, not just the violation exception: a predicate that fails
    // ANALYSIS at commit time (declared on an empty table where addCheck
    // skipped validation, or referencing a column dropped since) must
    // also clean up its staged files before the refusal propagates —
    // otherwise every refused commit leaks parquet into files/ until a
    // vacuum sweep.
    try validateWith(
      spark.read.schema(nullable(schema)).parquet(files.map(absPath(name, _)): _*),
      cs, name)
    catch { case scala.util.control.NonFatal(e) =>
      files.foreach(f => new java.io.File(absPath(name, f)).delete())
      throw e
    }
  }

  private def validateWith(df: DataFrame, cs: Seq[(String, String)],
      name: String): Unit = {
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions._
    val aggs = cs.map { case (n, p) =>
      sum(when(!coalesce(expr(p), lit(false)), 1L).otherwise(0L)).as(n) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val bad = cs.zipWithIndex.collect {
      case ((n, p), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$n [$p]: ${row.getLong(i)} row(s)"
    }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"CHECK constraint violation on '$name': ${bad.mkString("; ")}")
  }

  /** Widen `df` to `cols`, adding NULL-typed columns it lacks (the
    * schema-evolution half of Delta's mergeSchema). */
  private def align(df: DataFrame, cols: Seq[StructField]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.columns.toSet
    df.select(cols.map { f =>
      if (have.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** MERGE against the live snapshot, committed as a new version (the
    * reference's upsert-maintained meta-tables, with history retained).
    *
    * File-level rewrite, not table-level: a column-pruned scan of the key
    * columns + `_metadata.file_path` left-semi-joined with the source
    * keys finds the data files that contain a matched key; ONLY those
    * files feed the merge and are rewritten — every other file carries
    * over into the new manifest by name. Source rows with unmatched keys
    * (pure inserts) land in the newly staged files.
    *
    * With `evolveSchema`, source-only columns are ADDED to the table
    * (existing rows take NULL) and dropped source columns are retained
    * (source rows take NULL) — Delta mergeSchema semantics; earlier
    * versions keep their own schema (time travel is schema-faithful), and
    * carried-over files keep their narrow on-disk schema (the manifest's
    * wider read schema NULL-fills). */
  def upsert(spark: SparkSession, name: String, source: DataFrame,
      keys: Seq[String], evolveSchema: Boolean = false): Long =
    upsertTxn(spark, name, source, keys, evolveSchema, None)

  /** Delta's three-clause MERGE as ONE atomic commit:
    * WHEN MATCHED AND deleteWhen THEN DELETE / WHEN MATCHED THEN UPDATE
    * SET * / WHEN NOT MATCHED AND NOT deleteWhen THEN INSERT * — the
    * CDC-apply shape (the source is a feed carrying an op flag;
    * `deleteWhen` resolves against the source side, so the flag column
    * never reaches the table). Rides the ENTIRE upsert machinery
    * unchanged: stats-pruned hit-file detection (a delete-flagged key's
    * file is a hit like any other — it rewrites without that row),
    * CHECK validation, and the optimistic rebase/conflict commit loop.
    * The target must exist (MERGE into nothing is a bug, matching
    * Delta's error), and schema evolution composes with updates only,
    * not with a flag-carrying delete feed. */
  def merge(spark: SparkSession, name: String, source: DataFrame,
      keys: Seq[String],
      deleteWhen: DataFrame => org.apache.spark.sql.Column,
      updateWhen: Option[(DataFrame, DataFrame) => org.apache.spark.sql.Column]
        = None): Long = {
    require(currentVersion(name).isDefined,
      s"merge('$name'): target table does not exist")
    upsertTxn(spark, name, source, keys, evolveSchema = false, None,
      Some(deleteWhen), updateWhen)
  }

  /** Exactly-once MERGE for streaming micro-batches (Delta's `txn`
    * action): each named writer's highest committed batch id is recorded
    * in the manifest, atomically with the commit. A (writerId, batchId)
    * at or below the watermark is a restart REPLAY — it commits NOTHING
    * and returns the current version, so `foreachBatch` re-delivery
    * after a crash cannot double-apply a batch. */
  def upsertBatch(spark: SparkSession, name: String, source: DataFrame,
      keys: Seq[String], writerId: String, batchId: Long): Long = {
    val cur = currentVersion(name)
    val last = cur.map(v => txns(name, v).getOrElse(writerId, -1L)).getOrElse(-1L)
    if (batchId <= last) cur.get
    else upsertTxn(spark, name, source, keys, evolveSchema = false,
      Some(writerId -> batchId))
  }

  /** The source's first-key [min, max] as stat strings: the range both
    * stats PRUNING and rebase CONFLICT checks compare against. First the
    * key field when stat-able, then the range — None when the key is not
    * range-comparable or every source key is NULL. One aggregate job. */
  private def sourceKeyRange(schema: StructType, source: DataFrame,
      key: String): (Option[StructField], Option[(String, String)]) = {
    import org.apache.spark.sql.functions.{col, max, min}
    val kf = schema.fields.find(_.name == key).filter(statable)
    val rng = kf.flatMap { f =>
      val r = source.agg(
        min(col(f.name)).cast("string"), max(col(f.name)).cast("string")).head()
      if (r.isNullAt(0)) None else Some((r.getString(0), r.getString(1)))
    }
    (kf, rng)
  }

  /** Stats pruning: the manifest entries whose first-key [min,max] range
    * can overlap `source`'s — files dismissed here cost ZERO I/O (the
    * Delta data-skipping move); only survivors pay the key scan. The
    * single implementation behind both upserts and [[pruneCandidates]]. */
  private def pruneEntries(schema: StructType, entries: Seq[FileEntry],
      source: DataFrame, key: String): Seq[FileEntry] =
    sourceKeyRange(schema, source, key) match {
      case (Some(kf), rng) if entries.nonEmpty =>
        rng match {
          case None => Seq.empty  // all-NULL source keys match nothing
          case Some(src) =>
            entries.filter(e => rangesOverlap(kf.dataType, e.stats.get(kf.name), src))
        }
      case _ => entries
    }

  /** Test seam: runs after an upsert's merge output is fully staged,
    * immediately before its first commit attempt — lets a spec inject a
    * COMPETING COMMITTED WRITER at the exact race window, making the
    * lost-commit → rebase / refuse paths deterministic. No-op otherwise. */
  @volatile private[graft] var beforeCommitHook: () => Unit = () => ()

  private def upsertTxn(spark: SparkSession, name: String, rawSource: DataFrame,
      keys: Seq[String], evolveSchema: Boolean,
      addTxn: Option[(String, Long)],
      deleteWhen: Option[DataFrame => org.apache.spark.sql.Column] = None,
      updateWhen: Option[(DataFrame, DataFrame) => org.apache.spark.sql.Column]
        = None): Long =
    currentVersion(name) match {
      case None =>
        val staged = stageWithStats(rawSource, name)
        validateStaged(spark, name, rawSource.schema, staged.map(_.file))
        if (tryCommitManifest(name, 1L, rawSource.schema, staged, addTxn)) 1L
        else {
          // lost the CREATE race — the table exists now; this writer's
          // output must MERGE against it like any other upsert
          dropStaged(name, staged)
          upsertTxn(spark, name, rawSource, keys, evolveSchema, addTxn,
            deleteWhen, updateWhen)
        }
      case Some(cur) =>
        import org.apache.spark.sql.functions.col
        // replay shortcut re-checked here (not only in upsertBatch): two
        // concurrent replays of the same batch must not both pass
        addTxn match {
          case Some((w, b)) if txns(name, cur).getOrElse(w, -1L) >= b => return cur
          case _ =>
        }
        val (tSchema, entries) = manifestWithStats(name, cur)
        // the source feeds TWO jobs (hit semi-join, merge write): pin it
        // ONCE. localCheckpoint, not persist — the pinned RDD makes every
        // downstream plan a trivial scan (r08: persist kept the full
        // source lineage in each of the three plans, and the CacheManager
        // walked every subsequent plan per analysis — measured
        // ~0.3 s/upsert of driver time at sf0.1, pure overhead) AND
        // source-scan determinism (a non-deterministic source read twice
        // is the anomaly Delta materializes merge sources against).
        // TRADE: localCheckpoint is NOT fault-tolerant — losing an
        // executor/block mid-upsert FAILS the upsert (caller retries the
        // idempotent txn) instead of silently recomputing a possibly
        // different source; blocks are freed deterministically in the
        // finally below. Recompute-on-loss would need reliable
        // checkpointing to shared storage — the wrong default for a
        // sub-second commit path.
        //
        // The first key's [min, max] (stats pruning + rebase conflict
        // range) and the source row count (broadcast decision below) RIDE
        // the checkpoint job as observed metrics — r9 ran a separate
        // range-aggregate job per upsert (~0.1 s of pure scheduler
        // round-trip at sf0.1; at cluster scale one fewer full source
        // pass). The string rendering stays Spark's own cast, exactly as
        // sourceKeyRange produced.
        val keyField = tSchema.fields.find(_.name == keys.head).filter(statable)
          .filter(f => rawSource.columns.contains(f.name))
        val obs = org.apache.spark.sql.Observation()
        val observed = keyField match {
          case Some(f) => rawSource.observe(obs,
            org.apache.spark.sql.functions.min(col(f.name)).cast("string").as("__kmin"),
            org.apache.spark.sql.functions.max(col(f.name)).cast("string").as("__kmax"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("__nrows"))
          case None => rawSource.observe(obs,
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("__nrows"))
        }
        val source = observed.localCheckpoint()
        val metrics = obs.get
        val srcRows = metrics("__nrows").asInstanceOf[Long]
        val srcRange: Option[(String, String)] = keyField.flatMap { _ =>
          Option(metrics("__kmin").asInstanceOf[String])
            .map(mn => (mn, metrics("__kmax").asInstanceOf[String]))
        }
        try {
          // SCHEMA ENFORCEMENT (Delta semantics): without evolveSchema a
          // drifted source is REJECTED loudly, not silently truncated —
          // extra columns and diverged types both refuse before any file
          // is staged, so the table is untouched. The conditional-merge
          // path (deleteWhen) is exempt from the extra-column check: its
          // CDC op flag is a source-side column by design and never
          // reaches the table.
          if (!evolveSchema) {
            val extras = source.schema.fieldNames
              .filterNot(tSchema.fieldNames.contains)
            require(deleteWhen.isDefined || extras.isEmpty,
              s"upsert('$name'): source carries columns absent from the " +
                s"table schema: ${extras.mkString(", ")} — pass " +
                "evolveSchema=true to add them")
            val diverged = source.schema.fields.flatMap { f =>
              tSchema.fields.find(_.name == f.name)
                .filter(_.dataType != f.dataType)
                .map(t => s"${f.name} (${f.dataType.simpleString} vs " +
                  s"table ${t.dataType.simpleString})")
            }
            require(diverged.isEmpty,
              s"upsert('$name'): source column types diverge from the " +
                s"table schema: ${diverged.mkString("; ")}")
          }
          val candidates = (keyField, srcRange) match {
            case (Some(kf), Some(src)) =>
              entries.filter(e => rangesOverlap(kf.dataType, e.stats.get(kf.name), src))
            case (Some(_), None) => Seq.empty  // all-NULL source keys match nothing
            case _ => entries
          }
          // which surviving files hold a matched key? (the only rows a
          // MERGE changes)
          // live (DV-filtered) view of the candidate files: a key whose
          // only occurrence is a deletion-vector-dead row must NOT count
          // as a hit — the merge would pointlessly rewrite the file (and
          // the rewrite below must not resurrect dead rows)
          // small churn feeds (the steady-state case) broadcast their
          // keys: the semi-join then probes each candidate split IN
          // PLACE — no exchange on the table side, no AQE replan stage.
          // Past the row bound the shuffle semi-join returns (a 100 TB
          // backfill feed must not be collected to the driver).
          val srcKeys = source.select(keys.map(col): _*)
          val probeKeys =
            if (srcRows <= BroadcastKeyRows)
              org.apache.spark.sql.functions.broadcast(srcKeys)
            else srcKeys
          import spark.implicits._
          val hitNames: Set[String] =
            if (candidates.isEmpty) Set.empty
            else readEntries(spark, name, tSchema, candidates, withMeta = true)
              .select(keys.map(col) :+ col("__file"): _*)
              // no distinct() on the probe side: left_semi dedups by
              // construction
              .join(probeKeys, keys, "left_semi")
              .select(col("__file")).as[String]
              // partition-LOCAL dedup instead of a distinct() exchange:
              // each task emits at most the file names its splits touch,
              // so the collect is Σ file-splits-sized (manifest-scale,
              // the same driver footprint as a Delta log replay), and the
              // job has no shuffle stage at all on the broadcast path
              .mapPartitions(it => it.toSet.iterator)
              .collect().toSet
          val hit = candidates.filter(e => hitNames.contains(e.file))
          val hitSet = hit.map(_.file).toSet
          val rewriteTarget =
            if (hit.isEmpty) emptyDf(spark, tSchema)
            else readEntries(spark, name, tSchema, hit)
          val (mTarget, mSource, outSchema) =
            if (!evolveSchema) (rewriteTarget, source, tSchema)
            else {
              val all = tSchema.fields ++
                source.schema.fields.filterNot(f => tSchema.fieldNames.contains(f.name))
              (align(rewriteTarget, all), align(source, all), StructType(all))
            }
          val merged = deleteWhen match {
            case Some(dw) => Merge.conditional(mTarget, mSource, keys, dw, updateWhen)
            case None => Merge.upsert(mTarget, mSource, keys)
          }
          // SIZE-GATED fast path for the merge write: both input sizes
          // are measured — the source count from the checkpoint's
          // observation, the hit side from the manifest's exact __rows
          // stats (absent stats → unknown → no fast path). When the
          // whole merge provably fits a handful of tasks, AQE is pure
          // overhead here (each exchange becomes its own stage-job plus
          // a replanning round-trip — the graph-superstep measurement),
          // so it's disabled for THIS action and the reducer count is
          // sized at ~2M rows/task, which also keeps the staged file
          // count (and so manifest size and footer reads) at the few
          // files the data warrants instead of shuffle.partitions many.
          // A merge beyond the gate keeps AQE — skew-split and runtime
          // coalescing matter exactly there, and the gate uses measured
          // sizes, never guesses.
          val hitRowsOpt = hit.foldLeft(Option(0L)) { (acc, e) =>
            for (a <- acc; r <- e.stats.get("__rows")) yield a + r._1.toLong }
          val tinyMergeParts = hitRowsOpt
            .filter(_ => srcRows <= BroadcastKeyRows)
            .map(_ + srcRows).filter(_ <= TinyMergeRows)
            .map(n => math.max(1L, n / 2000000L + 1L).toInt)
          // conf override runs under ConfScope's lock: two CONCURRENT
          // tiny merges on one session would otherwise interleave their
          // capture/restore and leave the session stuck on the override
          // (seen once in the parallel-writers spec).
          val staged = tinyMergeParts match {
            case None => stageWithStats(merged, name)
            case Some(parts) =>
              ConfScope.withConf(spark, Seq(
                "spark.sql.adaptive.enabled" -> "false",
                "spark.sql.shuffle.partitions" -> parts.toString)) {
                stageWithStats(merged, name)
              }
          }
          // CHECK constraints vet the staged merge output (carried rows
          // were vetted when they entered or by addCheck's declaration
          // scan, so only churn-sized files pay the pass); a violation
          // deletes the staged files and refuses — table untouched.
          validateStaged(spark, name, outSchema, staged.map(_.file))
          beforeCommitHook()
          // optimistic commit loop: each rebase re-targets the SAME staged
          // files onto the new head — zero recompute — after proving the
          // concurrent commit cannot have touched this merge's rows.
          val origBase = entries.map(_.file).toSet
          var head = cur
          var keep = entries.filterNot(e => hitSet.contains(e.file))
          var attempt = 0
          while (true) {
            if (tryCommitManifest(name, head + 1L, outSchema, keep ++ staged, addTxn))
              return head + 1L
            attempt += 1
            if (attempt >= MaxCommitRetries) {
              dropStaged(name, staged)
              throw new IllegalStateException(
                s"upsert('$name'): $MaxCommitRetries commit attempts lost")
            }
            head = currentVersion(name).get
            val (headSchema, headEntries) = manifestWithStats(name, head)
            // a concurrent replay of this very batch may have won
            addTxn match {
              case Some((w, b)) if txns(name, head).getOrElse(w, -1L) >= b =>
                dropStaged(name, staged)
                return head
              case _ =>
            }
            val headFiles = headEntries.map(_.file).toSet
            // conflict 1: the winner rewrote/removed a file this merge
            // also rewrote — true write-write conflict on the same rows.
            // A concurrent MOR delete that attached a deletion vector to
            // a hit file conflicts the same way: this merge's staged
            // rewrite materialized rows the winner just declared dead.
            val baseDv = entries.filter(e => hitSet.contains(e.file))
              .map(e => e.file -> e.dvs).toMap
            val dvChanged = headEntries.exists(e =>
              hitSet.contains(e.file) && e.dvs != baseDv.getOrElse(e.file, Nil))
            if (!hitSet.subsetOf(headFiles) || dvChanged) {
              dropStaged(name, staged)
              throw new java.util.ConcurrentModificationException(
                s"upsert('$name'): concurrent commit rewrote or MOR-deleted in " +
                  s"files this merge also rewrote")
            }
            // conflict 2: the winner changed the table schema — this
            // merge's staged output and manifest schema predate it
            if (nullable(headSchema) != nullable(tSchema)) {
              dropStaged(name, staged)
              throw new java.util.ConcurrentModificationException(
                s"upsert('$name'): concurrent schema change")
            }
            // conflict 3 (concurrent append, stats-conservative like
            // Delta's ConcurrentAppendException): a file ADDED since this
            // merge's base snapshot whose key range can contain a source
            // key might hold a row this merge should have matched —
            // committing anyway could duplicate the key. Files without a
            // usable key range conflict conservatively.
            val added = headEntries.filterNot(e => origBase.contains(e.file))
            val appendConflict = (keyField, srcRange) match {
              case (Some(kf), Some(src)) =>
                added.exists(e => rangesOverlap(kf.dataType, e.stats.get(kf.name), src))
              case (Some(_), None) => false  // all-NULL keys match nothing
              case _ => added.nonEmpty
            }
            if (appendConflict) {
              dropStaged(name, staged)
              throw new java.util.ConcurrentModificationException(
                s"upsert('$name'): concurrent commit added files overlapping " +
                  "this merge's key range")
            }
            // disjoint — rebase: carry the new head's untouched files
            keep = headEntries.filterNot(e => hitSet.contains(e.file))
          }
          sys.error("unreachable")
        } finally {
          // release the checkpoint's block-store partitions NOW (r9):
          // Dataset.unpersist is a no-op on a checkpoint and GC-driven
          // cleanup is unbounded across a long session of many upserts
          org.apache.spark.sql.graftx.Internals.freeLocalCheckpoint(source)
        }
    }

  /** DELETE WHERE, file-level: only files containing a matching row are
    * rewritten (without their matches); every other file carries over by
    * reference — Delta DELETE's rewrite set. Parquet row-group stats
    * keep the match scan cheap; the new files' stats are re-collected. */
  def delete(spark: SparkSession, name: String,
      condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (tSchema, entries) = manifestWithStats(name, cur)
    // hit detection and the survivor rewrite both read the LIVE view:
    // rows already dead under a deletion vector neither trigger a
    // rewrite nor reappear in the rewritten file
    import spark.implicits._
    val hitNames: Set[String] =
      if (entries.isEmpty) Set.empty
      else readEntries(spark, name, tSchema, entries, withMeta = true)
        .filter(condition)
        // partition-local dedup (as in upsert's hit detect): one scan
        // job with no exchange; the collect is Σ file-splits-sized
        .select(col("__file")).as[String]
        .mapPartitions(it => it.toSet.iterator)
        .collect().toSet
    val hit = entries.filter(e => hitNames.contains(e.file))
    val hitSet = hit.map(_.file).toSet
    val survivors =
      if (hit.isEmpty) Seq.empty
      else stageWithStats(
        readEntries(spark, name, tSchema, hit)
          // SQL DELETE keeps rows where the predicate is false OR NULL:
          // a bare !condition maps NULL->NULL and filter() would drop
          // the row, silently deleting NULL-predicate rows that happen
          // to share a file with a true match
          .filter(!org.apache.spark.sql.functions.coalesce(
            condition, org.apache.spark.sql.functions.lit(false))), name)
    // optimistic commit: rebase onto concurrent commits that did not
    // touch the deleted files. Rows a concurrent writer ADDS that match
    // the predicate survive — snapshot semantics (Delta WriteSerializable:
    // DELETE removes what its snapshot contained).
    var head = cur
    var keep = entries.filterNot(e => hitSet.contains(e.file))
    var attempt = 0
    while (true) {
      if (tryCommitManifest(name, head + 1L, tSchema, keep ++ survivors))
        return head + 1L
      attempt += 1
      if (attempt >= MaxCommitRetries) {
        dropStaged(name, survivors)
        throw new IllegalStateException(
          s"delete('$name'): $MaxCommitRetries commit attempts lost")
      }
      head = currentVersion(name).get
      val (headSchema, headEntries) = manifestWithStats(name, head)
      val baseDv = hit.map(e => e.file -> e.dvs).toMap
      if (!hitSet.subsetOf(headEntries.map(_.file).toSet) ||
          headEntries.exists(e => hitSet.contains(e.file) &&
            e.dvs != baseDv.getOrElse(e.file, Nil)) ||
          nullable(headSchema) != nullable(tSchema)) {
        dropStaged(name, survivors)
        throw new java.util.ConcurrentModificationException(
          s"delete('$name'): concurrent commit touched the deleted files or schema")
      }
      keep = headEntries.filterNot(e => hitSet.contains(e.file))
    }
    sys.error("unreachable")
  }

  /** Write a deletion-vector parquet (dvSchema rows) into `files/`,
    * returning its name. One output file: a DV is deleted-rows-sized by
    * construction (the whole point of merge-on-read is that the delete
    * is tiny next to the data), so a single columnar file is the right
    * shape — the per-commit analog of Delta's per-file roaring bitmaps,
    * carrying the same (file, position) information. */
  private def stageDv(hits: DataFrame, name: String): String = {
    val tok = newToken()
    val stageDir = new java.io.File(tdir(name), s"_stage_$tok")
    // repartition, NOT coalesce: coalesce(1) would propagate up the
    // narrow lineage and serialize the whole hit-detection scan onto one
    // task; the shuffle boundary moves only the deleted-rows-sized
    // (file, pos) output while the scan stays cluster-wide
    hits.repartition(1).write.mode(SaveMode.Overwrite).parquet(stageDir.getAbsolutePath)
    val fd = filesDir(name)
    fd.mkdirs()
    val part = stageDir.listFiles.toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val nm = s"dv-$tok.parquet"
    java.nio.file.Files.move(part.toPath, new java.io.File(fd, nm).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Fs.deleteRec(stageDir)
    nm
  }

  /** DELETE WHERE, merge-on-read: instead of rewriting the files that
    * hold matches ([[delete]]'s copy-on-write), commit a DELETION VECTOR
    * — the matches' (file, physical position) pairs — and attach it to
    * each hit file's manifest entry; reads anti-join the vector. This is
    * Delta's deletion-vector DELETE / Iceberg v2 position deletes: at
    * 100 TB, deleting 0.1% of rows scattered across every file would
    * force copy-on-write to rewrite the whole table, while merge-on-read
    * writes kilobytes and touches no data file. The read-side anti-join
    * is against a broadcast-sized vector; [[optimize]] compacts the debt
    * away (its rewrite reads through the vectors and stages clean files
    * with no dv association).
    *
    * Positions are computed on THIS snapshot's live view (already-dead
    * rows are excluded by the read path, though re-marking would be
    * harmless — the dead set only grows). Concurrency: the commit loop
    * rebases onto heads that still contain every hit file, taking the
    * HEAD's entry for each file so vectors attached by concurrent MOR
    * deletes union monotonically; a head that rewrote a hit file
    * (upsert/COW-delete/optimize) is a true write-write conflict and
    * refuses, matching [[delete]]'s semantics. Rows matching the
    * predicate that a concurrent writer ADDS survive — snapshot
    * semantics (Delta WriteSerializable). */
  def deleteMor(spark: SparkSession, name: String,
      condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (tSchema, entries) = manifestWithStats(name, cur)
    if (entries.isEmpty) return cur
    val hits = readEntries(spark, name, tSchema, entries, withMeta = true)
      .filter(condition)
      .select(col("__file"), col("__pos"))
    val dvFile = stageDv(hits, name)
    val hitFiles: Set[String] = spark.read.schema(dvSchema)
      .parquet(absPath(name, dvFile))
      .select("__file").distinct()
      .collect().map(_.getString(0)).toSet
    if (hitFiles.isEmpty) {
      new java.io.File(absPath(name, dvFile)).delete()
      return cur
    }
    beforeCommitHook()
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val head = currentVersion(name).get
      val (headSchema, headEntries) = manifestWithStats(name, head)
      if (!hitFiles.subsetOf(headEntries.map(_.file).toSet) ||
          nullable(headSchema) != nullable(tSchema)) {
        new java.io.File(absPath(name, dvFile)).delete()
        throw new java.util.ConcurrentModificationException(
          s"deleteMor('$name'): concurrent commit rewrote a file this delete " +
            "marked rows in, or changed the schema")
      }
      val next = headEntries.map { e =>
        if (hitFiles.contains(e.file) && !e.dvs.contains(dvFile))
          e.copy(dvs = e.dvs :+ dvFile)
        else e
      }
      if (tryCommitManifest(name, head + 1L, headSchema, next)) return head + 1L
      attempt += 1
    }
    new java.io.File(absPath(name, dvFile)).delete()
    throw new IllegalStateException(
      s"deleteMor('$name'): $MaxCommitRetries commit attempts lost")
  }

  /** Candidate files an upsert on `keys` would have to SCAN, after stats
    * pruning (exposed for specs: proves skipping consults the manifest
    * only). */
  def pruneCandidates(spark: SparkSession, name: String, source: DataFrame,
      key: String): Seq[String] = {
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (tSchema, entries) = manifestWithStats(name, cur)
    pruneEntries(tSchema, entries, source, key).map(_.file)
  }

  /** OPTIMIZE: compact the live snapshot's (typically many small,
    * upsert-accumulated) data files into `targetFiles`, committed as a
    * new version — Delta OPTIMIZE on the manifest store. With
    * `zorderBy`, rows are Z-curve-clustered first (OPTIMIZE ZORDER, ref:
    * dbc cmd16/17): each output file covers a compact curve segment, so
    * the manifest's per-file min/max stats — and therefore upsert/
    * delete pruning — skip on EVERY clustered dimension, not just
    * incidental write order. Rows are unchanged; history stays readable;
    * vacuum reclaims the small files once no retained manifest
    * references them. */
  def optimize(spark: SparkSession, name: String, targetFiles: Int = 1,
      zorderBy: Seq[String] = Seq.empty, bits: Int = 12): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    // OPTIMIZE rewrites the whole snapshot, so ANY concurrent data commit
    // invalidates its staged output — a lost race restarts the compaction
    // from the new head (it is idempotent maintenance, nothing to lose).
    var attempt = 0
    while (true) {
      val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
      val (schema, _) = manifestWithStats(name, cur)
      val live = readVersion(spark, name, cur)
      val compacted =
        if (zorderBy.isEmpty) live.coalesce(targetFiles)
        else graft.functions.ZOrder.cluster(live, zorderBy, bits, targetFiles)
      val staged = stageWithStats(compacted, name)
      if (tryCommitManifest(name, cur + 1L, schema, staged)) return cur + 1L
      dropStaged(name, staged)
      attempt += 1
      if (attempt >= 5) throw new IllegalStateException(
        s"optimize('$name'): lost the commit race $attempt times")
    }
    sys.error("unreachable")
  }

  /** Deletion-vector file schema: (data-file name, physical row index).
    * Positions are the parquet reader's stable `_metadata.row_index` —
    * data files are immutable, so a position marked dead stays the same
    * physical row forever. */
  private val dvSchema = StructType(Seq(
    StructField("__file", org.apache.spark.sql.types.StringType, nullable = false),
    StructField("__pos", org.apache.spark.sql.types.LongType, nullable = false)))

  /** Read the given snapshot entries with their deletion vectors applied.
    * The scan keeps predicate pushdown intact (the metadata columns ride
    * beside the data columns); dead rows drop out through ONE left-anti
    * join against the union of the entries' dv files — deleted-rows-
    * sized, so Spark broadcasts it at any realistic churn and AQE falls
    * back to a shuffled anti-join only if a single delete was truly
    * table-sized. `withMeta` keeps the (`__file`, `__pos`) identity
    * columns for callers that need per-file row addressing (hit scans,
    * [[deleteMor]]). */
  private def readEntries(spark: SparkSession, name: String, schema: StructType,
      entries: Seq[FileEntry], withMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, substring_index}
    if (entries.isEmpty) {
      val base = emptyDf(spark, schema)
      return if (!withMeta) base
      else base
        .withColumn("__file", org.apache.spark.sql.functions.lit("").cast("string"))
        .withColumn("__pos", org.apache.spark.sql.functions.lit(0L))
        .limit(0)
    }
    val raw = spark.read.schema(schema)
      .parquet(entries.map(e => absPath(name, e.file)): _*)
    val dvFiles = entries.flatMap(_.dvs).distinct
    if (!withMeta && dvFiles.isEmpty) return raw
    // the row-identity columns are reserved while in use (like Delta's
    // _metadata reservation): silently shadowing a user column here
    // would corrupt it through the drop below
    require(!schema.fieldNames.contains("__file") &&
      !schema.fieldNames.contains("__pos"),
      s"readEntries('$name'): __file/__pos are reserved row-identity names")
    val base = raw
      .withColumn("__file", substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("__pos", col("_metadata.row_index"))
    val live =
      if (dvFiles.isEmpty) base
      else {
        val dv = spark.read.schema(dvSchema)
          .parquet(dvFiles.map(absPath(name, _)): _*)
        base.join(dv,
          base("__file") === dv("__file") && base("__pos") === dv("__pos"),
          "left_anti")
      }
    if (withMeta) live else live.drop("__file", "__pos")
  }

  /** OPTIMIZE with the small-file policy (Delta OPTIMIZE's actual
    * contract): compact ONLY files below `minBytes` on disk, plus any
    * file carrying deletion-vector debt (rewriting it retires the
    * vector); every right-sized clean file carries over by reference.
    * This is the form that survives 100 TB — the full-snapshot
    * [[optimize]] is a table rewrite, fine after bulk loads, while the
    * steady-state maintenance loop must only ever pay for the churn
    * tail that upserts/streaming commits accumulate. Lost commit races
    * restart from the new head like [[optimize]] (idempotent
    * maintenance). Returns the current version unchanged when nothing
    * qualifies. */
  def optimizeIncremental(spark: SparkSession, name: String,
      minBytes: Long, targetFiles: Int = 1): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    var attempt = 0
    while (attempt < 5) {
      val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
      val (schema, entries) = manifestWithStats(name, cur)
      val small = entries.filter(e =>
        e.dvs.nonEmpty || new java.io.File(absPath(name, e.file)).length < minBytes)
      if (small.size < 2 && small.forall(_.dvs.isEmpty)) return cur
      val staged = stageWithStats(
        readEntries(spark, name, schema, small).coalesce(targetFiles), name)
      val keep = entries.filterNot(e => small.exists(_.file == e.file))
      if (tryCommitManifest(name, cur + 1L, schema, keep ++ staged))
        return cur + 1L
      dropStaged(name, staged)
      attempt += 1
    }
    throw new IllegalStateException(
      s"optimizeIncremental('$name'): lost the commit race $attempt times")
  }

  /** COUNT(*) of the live snapshot without opening one DATA file: Σ
    * per-file "__rows" manifest stats minus the dead-position count.
    * The dead count reads the deletion vectors themselves (deleted-
    * rows-sized — log-scale I/O, like Delta replaying DV metadata) and
    * counts DISTINCT (file, pos) pairs restricted to positions whose
    * data file still carries that vector: a rewrite that retired a
    * vector on one of its files must not have that file's positions
    * subtracted, and concurrent vectors that double-marked a position
    * (both computed on the same base snapshot) must count it once.
    * None when any entry predates row-count stats — caller falls back
    * to a scan. */
  def countMeta(spark: SparkSession, name: String): Option[Long] = {
    import org.apache.spark.sql.functions.{col, substring_index}
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (_, entries) = manifestWithStats(name, cur)
    val per = entries.map(_.stats.get("__rows").flatMap(_._1.toLongOption))
    if (per.exists(_.isEmpty)) return None
    // dv -> the data files still referencing it in THIS snapshot
    val refs: Map[String, Set[String]] = entries
      .flatMap(e => e.dvs.map(_ -> e.file))
      .groupBy(_._1).map { case (dv, fs) => dv -> fs.map(_._2).toSet }
    val dead =
      if (refs.isEmpty) 0L
      else {
        val dv = spark.read.schema(dvSchema)
          .parquet(refs.keys.toSeq.map(absPath(name, _)): _*)
          .withColumn("__dv", substring_index(col("_metadata.file_path"), "/", -1))
        val refRows = refs.toSeq.flatMap { case (d, fs) => fs.map(d -> _) }
        import spark.implicits._
        dv.join(refRows.toDF("__dv", "__file"), Seq("__dv", "__file"), "left_semi")
          .select("__file", "__pos").distinct()
          .count()
      }
    Some(per.flatten.sum - dead)
  }

  // ---- manifest-stats data-skipping read -------------------------------

  /** Conservative may-match of a predicate against one file's manifest
    * stats: false ONLY when the stats PROVE no row can match. Handles
    * And/Or and the comparison shapes Delta's data skipping handles
    * (=, <, <=, >, >=, IN between a column and literals); anything else
    * is conservatively true. Stats are numeric decimal strings
    * (collectStats); unparseable stats never prune. */
  private def mayMatch(stats: Map[String, (String, String)],
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def name(x: Expression): Option[String] = x match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(u.name)
      case a: AttributeReference => Some(a.name)
      // NOT unwrapped: Cast changes comparison semantics (a double file
      // range [1.5, 1.9] proves nothing about CAST(c AS INT) = 1, which
      // a c = 1.9 row satisfies) — a cast column is un-prunable
      case _ => None
    }
    def bd(x: Expression): Option[BigDecimal] = x match {
      case l: Literal if l.value != null =>
        try Some(BigDecimal(l.value.toString)) catch { case _: NumberFormatException => None }
      case _ => None
    }
    def range(col: String): Option[(BigDecimal, BigDecimal)] =
      stats.get(col).flatMap { case (mn, mx) =>
        try Some((BigDecimal(mn), BigDecimal(mx)))
        catch { case _: NumberFormatException => None }
      }
    def cmp(a: Expression, b: Expression)(
        f: ((BigDecimal, BigDecimal), BigDecimal) => Boolean): Boolean =
      (name(a), bd(b)) match {
        case (Some(c), Some(v)) => range(c).forall(r => f(r, v))
        case _ => true
      }
    def eq2(a: Expression, b: Expression) =
      cmp(a, b) { case ((mn, mx), v) => mn <= v && v <= mx } &&
        cmp(b, a) { case ((mn, mx), v) => mn <= v && v <= mx }
    def lt2(a: Expression, b: Expression) =
      cmp(a, b) { case ((mn, _), v) => mn < v } &&
        cmp(b, a) { case ((_, mx), v) => v < mx }
    def le2(a: Expression, b: Expression) =
      cmp(a, b) { case ((mn, _), v) => mn <= v } &&
        cmp(b, a) { case ((_, mx), v) => v <= mx }
    def in2(a: Expression, list: Seq[Expression]) = name(a) match {
      case Some(c) =>
        val vals = list.map(bd)
        // every element must be a parseable literal to prune: a dropped
        // non-literal element could match inside the file's range
        if (vals.exists(_.isEmpty)) true
        else range(c).forall { case (mn, mx) =>
          vals.flatten.exists(v => mn <= v && v <= mx) }
      case None => true
    }
    e match {
      // the Column DSL converts to unresolved function calls — dispatch
      // by name (probed: and/or/</<=/>/>=/=/in)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        (f.nameParts.last.toLowerCase(java.util.Locale.ROOT), f.arguments) match {
          case ("and", Seq(l, r)) => mayMatch(stats, l) && mayMatch(stats, r)
          case ("or", Seq(l, r)) => mayMatch(stats, l) || mayMatch(stats, r)
          case ("=" | "==", Seq(a, b)) => eq2(a, b)
          case ("<", Seq(a, b)) => lt2(a, b)
          case ("<=", Seq(a, b)) => le2(a, b)
          case (">", Seq(a, b)) => lt2(b, a)
          case (">=", Seq(a, b)) => le2(b, a)
          case ("in", a +: rest) => in2(a, rest)
          case _ => true
        }
      // resolved forms (predicates built programmatically)
      case And(l, r) => mayMatch(stats, l) && mayMatch(stats, r)
      case Or(l, r) => mayMatch(stats, l) || mayMatch(stats, r)
      case EqualTo(a, b) => eq2(a, b)
      case LessThan(a, b) => lt2(a, b)
      case LessThanOrEqual(a, b) => le2(a, b)
      case GreaterThan(a, b) => lt2(b, a)
      case GreaterThanOrEqual(a, b) => le2(b, a)
      case In(a, list) => in2(a, list)
      case _ => true
    }
  }

  /** Data-skipping read (Delta/Iceberg scan planning on the manifest):
    * prune the snapshot's file list against `condition` using the
    * per-file min/max stats BEFORE any file is opened — at 100 TB with
    * millions of files this is the difference between listing/footer-
    * probing every file and touching only the clustered slice the
    * predicate names (pair with OPTIMIZE ZORDER so every clustered
    * dimension prunes). The surviving files still evaluate `condition`
    * exactly (stats pruning is conservative, never authoritative).
    * Returns (dataframe, files scanned, files total) so callers/specs
    * can assert the skip actually happened. */
  def readWhereDetailed(spark: SparkSession, name: String,
      condition: org.apache.spark.sql.Column): (DataFrame, Int, Int) = {
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (schema, entries) = manifestWithStats(name, cur)
    val pruned = entries.filter(e => mayMatch(e.stats,
      org.apache.spark.sql.graftx.GraftNative.exprOf(condition)))
    val df =
      if (pruned.isEmpty) emptyDf(spark, schema)
      else readEntries(spark, name, schema, pruned)
    (df.filter(condition), pruned.size, entries.size)
  }

  def readWhere(spark: SparkSession, name: String,
      condition: org.apache.spark.sql.Column): DataFrame =
    readWhereDetailed(spark, name, condition)._1

  /** Read the live snapshot. */
  def read(spark: SparkSession, name: String): DataFrame =
    readVersion(spark, name,
      currentVersion(name).getOrElse(sys.error(s"no committed version for $name")))

  /** Time travel: read snapshot `v` (`VERSION AS OF v`). */
  def readVersion(spark: SparkSession, name: String, v: Long): DataFrame = {
    val (schema, entries) = manifestWithStats(name, v)
    if (entries.isEmpty) emptyDf(spark, schema)
    else readEntries(spark, name, schema, entries)
  }

  /** Commit wall-clock per version: the manifest file's mtime IS the
    * commit instant (the hard link lands atomically at commit; nothing
    * rewrites a committed manifest). Epoch millis, ascending with
    * version by construction. */
  def commitTimes(name: String): Seq[(Long, Long)] =
    history(name).map(v => v -> manifestFile(name, v).lastModified)

  /** Time travel by wall clock (`TIMESTAMP AS OF ts`, Delta analog):
    * read the newest snapshot committed at or before `tsMillis`.
    * Resolution walks version->mtime pairs (metadata only, no data I/O)
    * and picks max{v : commitTime(v) <= ts}; a timestamp earlier than
    * the first commit is an error, matching Delta's contract. */
  def readAsOf(spark: SparkSession, name: String, tsMillis: Long): DataFrame = {
    val at = commitTimes(name).filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"readAsOf('$name'): no snapshot committed at or before $tsMillis")
    readVersion(spark, name, at.map(_._1).max)
  }

  /** Change data feed between two committed versions (Delta CDF analog):
    * one row per key whose state changed, labeled insert / update /
    * delete. FILE-DIFF first: rows in data files SHARED by both
    * manifests are byte-identical and can never produce a change row, so
    * only each side's non-shared files enter the keyed full-outer join —
    * at 0.1% churn that is ~0.1% of the table through the shuffle. (The
    * file-maintenance paths rewrite a key's file whenever the key
    * changes, so a changed key is never hiding in a shared file.) One
    * shuffle on the key, no row-set subtraction passes. */
  def changes(spark: SparkSession, name: String, from: Long, to: Long,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val (schemaA, entriesA) = manifestWithStats(name, from)
    val (schemaB, entriesB) = manifestWithStats(name, to)
    // an entry is "shared" (can't produce a change row) only when file
    // AND deletion-vector list match: a MOR delete keeps the file name
    // but changes its live rows, so both versions must read it
    val shared = entriesA.map(e => (e.file, e.dvs)).toSet
      .intersect(entriesB.map(e => (e.file, e.dvs)).toSet)
    def side(schema: StructType, entries: Seq[FileEntry]): DataFrame = {
      val own = entries.filterNot(e => shared.contains((e.file, e.dvs)))
      if (own.isEmpty) emptyDf(spark, schema)
      else readEntries(spark, name, schema, own)
    }
    // align both sides to the UNION of their schemas first: columns
    // added by evolveSchema between the versions must participate in the
    // update comparison (a value appearing in a new column IS a change),
    // and comparing in either direction must resolve.
    val rawA = side(schemaA, entriesA)
    val rawB = side(schemaB, entriesB)
    val all = rawA.schema.fields ++
      rawB.schema.fields.filterNot(f => rawA.columns.contains(f.name))
    val a = align(rawA, all).withColumn("__a", lit(true))
    val b = align(rawB, all).withColumn("__b", lit(true))
    val cond = keys.map(k => a(k) <=> b(k)).reduce(_ && _)
    val nonKeys = all.map(_.name).filter(c => !keys.contains(c))
    val differs = nonKeys.map(c => !(a(c) <=> b(c))).reduceOption(_ || _)
      .getOrElse(lit(false))
    a.join(b, cond, "full_outer")
      .withColumn("change_type",
        when(b("__b").isNull, "delete")
          .when(a("__a").isNull, "insert")
          .when(differs, "update"))
      .filter(col("change_type").isNotNull)
      .select(keys.map(k => coalesce(a(k), b(k)).as(k)) :+ col("change_type"): _*)
  }

  /** RESTORE VERSION AS OF: re-commit snapshot `v`'s manifest as the
    * next version (Delta RESTORE — a bad deploy rolls back as a NEW
    * commit, history intact). Pure manifest copy: every data file is
    * shared by reference, zero data movement; streaming-writer txn
    * watermarks carry forward from the CURRENT version so exactly-once
    * replay protection survives the rollback. */
  def restore(name: String, v: Long): Long = {
    require(currentVersion(name).isDefined, s"no version for $name")
    val (schema, entries) = manifestWithStats(name, v)
    // an explicit rollback supersedes whatever it raced with: always
    // rebase to the newest head (pure manifest copy, nothing staged)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val next = currentVersion(name).get + 1L
      if (tryCommitManifest(name, next, schema, entries)) return next
      attempt += 1
    }
    throw new IllegalStateException(
      s"restore('$name'): $MaxCommitRetries commit attempts lost")
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... CLONE` analog): create `dst`
    * at version 1 whose manifest lists the SAME immutable data files as
    * `src`'s head, hard-linked into the clone's file dir — zero bytes of
    * data copied, cost proportional to the FILE COUNT, never the table
    * size. Because data files are immutable by construction, the two
    * tables then evolve independently from the shared snapshot: each
    * side's upserts/deletes write only its own manifests and new files,
    * and vacuum is per-table — the filesystem's link count keeps a
    * shared inode alive until BOTH sides have dropped it. Per-file
    * stats entries carry over verbatim (they describe the shared file
    * contents), so the clone prunes/skips exactly like the source.
    * CHECK constraints are metadata and copy with the clone. */
  def shallowClone(src: String, dst: String): Long = {
    require(currentVersion(dst).isEmpty, s"shallowClone: target '$dst' already exists")
    val v = currentVersion(src).getOrElse(
      throw new IllegalArgumentException(s"shallowClone: source '$src' is empty"))
    val (schema, entries) = manifestWithStats(src, v)
    filesDir(dst).mkdirs()
    // deletion-vector files are part of the snapshot: link them with the
    // data files so the clone's reads apply the same dead-row filter
    val allFiles = (entries.map(_.file) ++ entries.flatMap(_.dvs)).distinct
    allFiles.foreach { f =>
      java.nio.file.Files.createLink(
        new java.io.File(absPath(dst, f)).toPath,
        new java.io.File(absPath(src, f)).toPath)
    }
    val cs = checks(src)
    if (cs.nonEmpty) writeChecks(dst, cs)
    if (!tryCommitManifest(dst, 1L, schema, entries)) {
      allFiles.foreach(f => new java.io.File(absPath(dst, f)).delete())
      throw new IllegalStateException(s"shallowClone: commit race on fresh table '$dst'")
    }
    1L
  }

  /** Incremental change feed: every per-commit change between
    * `fromVersion` (exclusive) and the live version, stamped with the
    * commit that produced it — the shape a polling consumer reads
    * (Delta CDF's `table_changes(from)`). Each adjacent pair diffs at
    * file level, so a poll after k commits of 0.1% churn costs k tiny
    * diffs, never k table scans. */
  def changesSince(spark: SparkSession, name: String, fromVersion: Long,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val versions = history(name).filter(_ >= fromVersion)
    require(versions.contains(fromVersion),
      s"$name has no version $fromVersion (history: ${history(name)})")
    val steps = versions.zip(versions.tail)
    if (steps.isEmpty)
      return changes(spark, name, fromVersion, fromVersion, keys)
        .withColumn("_commit_version", lit(fromVersion))
        .limit(0)
    steps.map { case (a, b) =>
      changes(spark, name, a, b, keys).withColumn("_commit_version", lit(b))
    }.reduce(_ union _)
  }

  /** Full rows of the data files ADDED to the live manifest since
    * `fromVersion` — the churn-file read backing incremental consumers
    * that need changed rows WITH their values (changesSince reports
    * keys only). File-diff pruned like changes(): at 0.1% churn this
    * reads ~0.1% of the table, never the snapshot. Rewritten files
    * also carry over unchanged rows, so pair this with a key semi-join
    * (e.g. changesSince's insert keys) to isolate true churn. */
  def newFileRows(spark: SparkSession, name: String, fromVersion: Long): DataFrame = {
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (schema, curEntries) = manifestWithStats(name, cur)
    val oldSet = manifest(name, fromVersion)._2.toSet
    val fresh = curEntries.filterNot(e => oldSet.contains(e.file))
    if (fresh.isEmpty) emptyDf(spark, schema)
    else readEntries(spark, name, schema, fresh)
  }

  // ---- record-level key index (point-lookup acceleration) --------------

  private def indexDir(name: String, keyCol: String) =
    new java.io.File(tdir(name), s"_index_$keyCol")

  /** Build the record-level key→file index for the CURRENT version — the
    * Hudi record-index / Delta bloom-filter-index analog. The index is a
    * parquet table of distinct (k, file) pairs, range-clustered and
    * sorted on `k` so a point probe prunes index row groups by footer
    * stats; it is stamped with the version it describes and becomes
    * stale (never wrong) when a new version commits.
    *
    * Cost shape: ONE column-pruned scan of the table (the key column
    * plus the file identity pseudo-column), one distinct shuffle at the
    * (key, file) grain. At 100 TB the index is keys×16-bytes-ish — data-
    * proportional but column-narrow; rebuild is incremental by design if
    * driven per-commit (non-shared files only), though this
    * implementation rebuilds whole — the spec pins staleness semantics
    * so an incremental builder can swap in without API change. */
  def buildKeyIndex(spark: SparkSession, name: String, keyCol: String): Long =
    buildKeyIndexDetailed(spark, name, keyCol)._1

  /** As [[buildKeyIndex]], also reporting how many data files were
    * actually SCANNED. Maintenance is INCREMENTAL: index entries for
    * files shared with the newest prior index snapshot carry over by an
    * index-to-index copy (file-pruned parquet read of the old index —
    * no data file touched), and only files new to this version are
    * scanned. At 0.1% churn a refresh costs ~0.1% of the table plus an
    * index rewrite — the same cost law as the store's own upsert. */
  def buildKeyIndexDetailed(spark: SparkSession, name: String,
      keyCol: String): (Long, Int) = {
    import org.apache.spark.sql.functions._
    val v = currentVersion(name).getOrElse(sys.error(s"no committed version for $name"))
    val (schema, files) = manifest(name, v)
    require(schema.fieldNames.contains(keyCol), s"no column $keyCol in $name")
    val idir = indexDir(name, keyCol)
    val target = new java.io.File(idir, s"v$v")
    if (new java.io.File(target, "_SUCCESS").exists) return (v, 0)
    // newest prior snapshot whose version is still in history (its
    // manifest tells us exactly which files it indexed)
    val prior: Option[(Long, java.io.File)] =
      Option(idir.listFiles).getOrElse(Array.empty)
        .filter(d => d.isDirectory && new java.io.File(d, "_SUCCESS").exists)
        .flatMap(d => d.getName.drop(1).toLongOption.map(_ -> d))
        .filter { case (pv, _) => pv != v && history(name).contains(pv) }
        .sortBy(-_._1).headOption
    val priorFiles: Set[String] =
      prior.map { case (pv, _) => manifest(name, pv)._2.toSet }.getOrElse(Set.empty)
    val covered = priorFiles.intersect(files.toSet)
    val fresh = files.filterNot(covered)
    val scanned =
      if (fresh.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("k", nullable(schema)(keyCol).dataType),
            StructField("file", org.apache.spark.sql.types.StringType))))
      else spark.read.schema(nullable(schema)).parquet(fresh.map(absPath(name, _)): _*)
        .select(col(keyCol).as("k"), col("_metadata.file_name").as("file"))
        .distinct()
    val carried = prior match {
      case Some((_, pdir)) if covered.nonEmpty =>
        // exclusion list = prior files DROPPED from this manifest —
        // churn-sized by construction, unlike `covered`, which is
        // table-sized at the low-churn envelope and would bloat the
        // plan as an isin literal list
        val dropped = (priorFiles -- files.toSet).toSeq
        val old = spark.read.parquet(pdir.getAbsolutePath)
        if (dropped.isEmpty) old else old.filter(!col("file").isin(dropped: _*))
      case _ => scanned.limit(0)
    }
    scanned.union(carried)
      .repartitionByRange(col("k")).sortWithinPartitions("k")
      .write.mode(SaveMode.Overwrite).parquet(target.getAbsolutePath)
    (v, fresh.size)
  }

  /** Data files a point probe must read, via the key index: None when no
    * index exists for the CURRENT version (stale or never built) —
    * caller falls back to a full scan; the list preserves manifest
    * order. The index probe itself is `k IN (...)` over the sorted index
    * parquet (row-group pruned), and the collect is candidate-file-sized
    * — the per-lookup driver footprint of a Delta log replay. */
  private[graft] def lookupFiles(spark: SparkSession, name: String,
      keyCol: String, keys: Seq[Any]): Option[Seq[String]] = {
    import org.apache.spark.sql.functions._
    currentVersion(name).flatMap { v =>
      val target = new java.io.File(indexDir(name, keyCol), s"v$v")
      if (!new java.io.File(target, "_SUCCESS").exists) None
      else {
        val hit = spark.read.parquet(target.getAbsolutePath)
          .filter(col("k").isin(keys: _*))
          .select("file").distinct()
          .collect().map(_.getString(0)).toSet
        Some(manifest(name, v)._2.filter(hit))
      }
    }
  }

  /** Point lookup: rows of the current version whose `keyCol` is in
    * `keys`, reading ONLY index-pinned data files when a fresh index
    * exists (else the filtered full scan, where file-stats pruning still
    * applies through the scan's pushed predicate). Index-served and
    * fallback paths return identical rows by construction — the index
    * maps every (key, file) containment exactly. */
  def lookup(spark: SparkSession, name: String, keyCol: String,
      keys: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions._
    val pred = col(keyCol).isin(keys: _*)
    lookupFiles(spark, name, keyCol, keys) match {
      case Some(files) =>
        // the index maps CONTAINMENT (it may list keys whose only rows
        // are deletion-vector-dead — stale-but-never-wrong); the
        // DV-filtered read makes the served rows exact
        val (schema, entries) = manifestWithStats(name, currentVersion(name).get)
        val pinned = entries.filter(e => files.contains(e.file))
        if (pinned.isEmpty) emptyDf(spark, schema)
        else readEntries(spark, name, schema, pinned).filter(pred)
      case None => read(spark, name).filter(pred)
    }
  }

  /** Retention: drop all but the latest `keep` manifests (Delta VACUUM
    * for history), then garbage-collect the data files they named that no
    * retained manifest references — file sharing means deletion must be
    * reference-counted, exactly like Delta's vacuum walking the log. The
    * live version is always retained. Files no manifest ever named,
    * `_stage_*` dirs and temp manifests are swept only once older than
    * `OrphanRetentionMs`. */
  def vacuumVersions(name: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the live version")
    val live = currentVersion(name).toSeq
    val drop = history(name).dropRight(keep).filterNot(live.contains)
    // deletion-vector files are referenced like data files: a dv lives
    // while any retained manifest's entry names it
    def refs(v: Long): Seq[String] = {
      val es = manifestWithStats(name, v)._2
      es.map(_.file) ++ es.flatMap(_.dvs)
    }
    val retired = drop.flatMap(refs).toSet
    drop.foreach { v =>
      manifestFile(name, v).delete()
      // a vacuumed version can never be read again (the exists() probe
      // refuses it), so its parsed entries are dead weight — evict
      // (r10 ADVICE: the cache otherwise retains every dropped
      // version's full schema + file-stats seq forever)
      mfCache.remove((name, v))
    }
    val referenced = history(name).flatMap(refs).toSet
    val cutoff = System.currentTimeMillis() - OrphanRetentionMs
    def stale(f: java.io.File) = f.lastModified < cutoff
    val fd = filesDir(name)
    if (fd.exists)
      fd.listFiles.filter(f => !referenced.contains(f.getName) &&
        (retired.contains(f.getName) || stale(f))).foreach(_.delete())
    // stage dirs, temp manifests and pointer staging of crashed writers
    // (committed writers delete their own in the same call)
    tdir(name).listFiles.filter { f =>
      val n = f.getName
      stale(f) && (n.startsWith("_stage_") ||
        n.endsWith(".tmp") && (n.startsWith("_v") || n.startsWith("_current-")))
    }.foreach(Fs.deleteRec)
    // key-index snapshots of vacuumed versions can never serve again
    val kept = history(name).toSet
    tdir(name).listFiles.filter(f => f.isDirectory && f.getName.startsWith("_index_"))
      .foreach { id =>
        id.listFiles.filter { d =>
          d.isDirectory && d.getName.startsWith("v") &&
            d.getName.drop(1).toLongOption.exists(!kept.contains(_))
        }.foreach(Fs.deleteRec)
      }
    drop
  }
}
