package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, hash, lit, max, pmod}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SaveMode, SparkSession}

/** Snapshot-versioned Parquet table with key-hash-bucketed upsert
  * (MERGE) semantics.
  *
  * The reference upserts embeddings with
  * `INSERT ... ON CONFLICT (pkey) DO UPDATE` (worker/src/ops.rs:8-70)
  * and bulk update-joins (worker/src/ops.rs:95-160). Spark+Parquet has
  * no in-place upsert, so rows live in `nBuckets` key-hash buckets
  * (`pmod(hash(key), nBuckets)` — deterministic across sessions) plus
  * at most one small merge-on-read *delta*:
  *
  *  - A MERGE into a bucketed table reads and rewrites no bucket. It
  *    writes a new delta — the old delta's rows whose key the batch
  *    does not carry, plus the batch — as one new version dir and
  *    commits it beside the unchanged bucket map: O(|delta| + |batch|)
  *    per MERGE, like the reference's O(batch) upsert.
  *  - Compaction is the copy-on-write MERGE: the delta's rows replace
  *    same-key rows of the buckets they hash into, and ONLY those
  *    buckets are rewritten (O(|table| * touched / nBuckets)), which
  *    clears the delta. It runs when a delta's written bytes pass
  *    min(mean base-bucket bytes, `spark.sql.autoBroadcastJoinThreshold`)
  *    — so the delta stays smaller than a bucket and broadcastable —
  *    and before a [[delete]], on a MERGE that widens the schema, and on
  *    the first MERGE into a flat (overwrite) snapshot. A negative
  *    threshold (broadcasts off) makes every MERGE copy on write.
  *  - A [[delete]] compacts any delta, then runs the same copy-on-write
  *    body with the keys to remove and no rows to add.
  *
  * Sizing: `nBuckets` is the one layout knob. It sets the compaction
  * granularity (thousands of buckets at 100 TB so a compaction rewrites
  * a thin slice; 16 fits the sf-scale stores) and is pinned per table
  * by the `#n` header. Writer tasks and files per bucket are not
  * knobs: [[bucketedWrite]] rebalances on the bucket and lets adaptive
  * execution size the writers from the data being written.
  *
  * Layout per table:
  *   `_CURRENT`       — monotonic global version pointer (liveness)
  *   `_BUCKETS`       — header lines, then "bucket version bytes" lines:
  *                      which snapshot dir holds each bucket's current
  *                      data and its parquet bytes (-1 = flat,
  *                      unbucketed snapshot from overwrite()). Header
  *                      lines start with `#`; every commit writes `#n`,
  *                      `#schema` and `#token`, and a `_BUCKETS` that
  *                      lacks one fails loudly:
  *                      `#n <buckets>` pins the bucket count,
  *                      `#schema <json>` is the schema the commit wrote
  *                      (so a read needs no parquet schema inference,
  *                      which is a Spark job), `#token <uuid>` is unique
  *                      per commit (a dropped and re-created table that
  *                      re-commits an identical bucket map at `v_0`
  *                      still reads as new content), and
  *                      `#delta <version> <key>` names the delta dir and
  *                      the key its rows replace base rows by
  *   `v_<n>/__bucket=<b>/` — parquet for the buckets rewritten at n
  *   `v_<n>/`         — or, for a delta version, its unbucketed rows
  *
  * [[read]] returns one DataFrame per committed `_BUCKETS` content and
  * hands the same object back until the next commit: no file listing,
  * no schema job, and callers may key caches on the handle by
  * reference. With a delta the handle is the base buckets null-safely
  * (`<=>`) left-anti-joined against the broadcast delta keys, union the
  * delta: last writer per key, never all-pairs. A table without a
  * delta reads its buckets alone.
  *
  * Both pointer files flip via overwriting rename (posix/HDFS rename
  * onto an existing path is atomic), so readers never observe a
  * missing or partial pointer; a failed merge leaves the previous
  * pointers intact — idempotent-retry safe, which is what makes the
  * streaming path's at-least-once delivery correct (SURVEY §7.4).
  * Old snapshot dirs are GC'd once neither the bucket map nor the
  * delta references them, after one commit of grace (see [[cleanOld]]).
  *
  * Concurrency contract: ONE writer per table (the engine is the
  * single writer; streaming micro-batches are serialized by
  * foreachBatch). Two concurrent merges would race the version
  * counter — multi-writer needs the optimistic-commit protocol of a
  * real table format, which is part of what the Delta swap buys.
  * Readers are safe against a single concurrent writer: pointer flips
  * are atomic renames, and GC retains the previous commit's bucket
  * and delta versions for one commit cycle, so a handle read before a
  * commit still reads after it. An operation that compacts first and
  * then commits its own version (a [[delete]], a widening MERGE or one
  * on another key) keeps the versions from before it through its
  * second commit too. Catalog-level changes made by THE writer engine
  * (job/prompt create, delete) propagate to reader engines over the
  * same warehouse without restart via VectorizeEngine.refreshCatalog —
  * the poll-based analogue of the reference's LISTEN/NOTIFY cache
  * invalidation, called once per JobScheduler tick. Catalog mutation
  * itself remains single-writer (persistCatalog overwrites from the
  * local view).
  *
  * On a production cluster this class is swapped for Delta
  * `MERGE INTO` (same call signature); the engine's call sites depend
  * only on `read`/`merge`/`overwrite`.
  */
final class ParquetStore(spark: SparkSession, root: String, nBuckets: Int = 16)
    extends Serializable {
  import ParquetStore.{BucketsFile, Delta}

  /** The session this store reads/writes with — for helpers that
    * build driver-side frames destined for this store (review r19:
    * `SparkSession.active` is the wrong session whenever the caller's
    * context differs from the store's, and throws when none is
    * active). */
  private[graft] def session: SparkSession = spark

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Control-file IO (pointers, bucket maps, meta sidecars) through
    * the RAW filesystem when the scheme wraps a checksummed one
    * (local `file://`): ChecksumFileSystem keeps each file's CRC in a
    * separate `.name.crc` sidecar which does NOT flip atomically with
    * the overwriting rename, so a concurrent reader could pair the
    * NEW pointer bytes with the OLD sidecar and fail with
    * ChecksumException — observed under the concurrent
    * refresh-while-serving pin (r16), violating the "readers see old
    * or new content, never an error" contract the atomic rename
    * exists for. Raw IO keeps no sidecar. Data files are unaffected
    * (Spark manages its own parquet IO).
    */
  private def controlFs: org.apache.hadoop.fs.FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }
  private def pointer(table: String) = new Path(s"$root/$table/_CURRENT")
  private def bucketsPath(table: String) = new Path(s"$root/$table/_BUCKETS")
  private def versionDir(table: String, v: Long) = s"$root/$table/v_$v"

  /** Effective bucket count for a table: the count persisted in its
    * _BUCKETS header (written at its first commit), falling back to
    * the constructor value for a new table. Persisting it
    * makes the layout self-describing — reopening an existing table
    * with a different constructor nBuckets would otherwise hash keys
    * into the wrong buckets and silently duplicate/miss rows on merge.
    */
  private def tableBuckets(table: String): Int =
    readBucketsFile(table).fold(nBuckets)(_.nb)

  private def bucketOf(key: String, nb: Int) = pmod(hash(col(key)), lit(nb))

  /** Write `df` as one `__bucket=<b>` dir per bucket it holds, with
    * the writer count sized by the data. A plain partitionBy write
    * lets every upstream task write its own file into every bucket it
    * holds (a 32-partition merge into 16 buckets left up to 512 files,
    * and on a SMALL table the probe-side read then paid per-file
    * listing/footer costs far above the data). A rebalance on
    * `__bucket` shuffles each bucket's rows together first, and
    * adaptive query execution sizes the writers from the shuffle's
    * map statistics: small buckets coalesce into a few tasks, so a
    * 50-row MERGE writes one file per touched bucket, while a bucket
    * larger than `spark.sql.adaptive.advisoryPartitionSizeInBytes` is
    * split over several writers (AQE's rebalance skew split), so a
    * 100 TB merge has no single-writer-per-bucket tail either. With
    * AQE off the rebalance is a hash shuffle on `__bucket`: one writer
    * per bucket.
    */
  private def bucketedWrite(df: DataFrame, dir: String): Unit =
    df.hint("rebalance", col("__bucket"))
      .write.partitionBy("__bucket").mode(SaveMode.Overwrite).parquet(dir)

  private def metaPath(table: String) = new Path(s"$root/$table/_META")

  /** Table-level key→value properties sidecar (`_META`) — the
    * self-describing-layout companion to the `#n` bucket-count header:
    * index builders record their frozen build parameters here (e.g.
    * the MinHash (shingleN, numHashes, bands) geometry) so a probe
    * can REQUIRE-match them instead of trusting the caller to have
    * remembered them. Written via the same atomic tmp+rename as the
    * pointers; survives merges (it describes the table, not a
    * snapshot) and dies with drop(). Keys must be whitespace-free,
    * values newline-free — enforced here so getMeta's line format
    * can never be corrupted into silently wrong pairs.
    */
  private def validateMetaProps(props: Map[String, String]): Unit = {
    require(props.keys.forall(k => k.nonEmpty && !k.exists(_.isWhitespace)),
      s"putMeta keys must be non-empty and whitespace-free: ${props.keys}")
    require(props.values.forall(v => !v.exists(c => c == '\n' || c == '\r')),
      "putMeta values must be newline-free")
  }

  private def renderMeta(props: Map[String, String]): String =
    props.toSeq.sortBy(_._1).map { case (k, v) => s"$k $v" }.mkString("\n")

  private def parseMeta(bytes: Array[Byte]): Map[String, String] =
    new String(bytes, "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty).map { line =>
        val i = line.indexOf(' ')
        if (i < 0) line -> "" else line.substring(0, i) -> line.substring(i + 1)
      }.toMap

  def putMeta(table: String, props: Map[String, String]): Unit = {
    validateMetaProps(props)
    // review r17: on a sidecar-era table (ANY _META_v exists) this
    // legacy write would SUCCEED but never be served — getMeta
    // resolves sidecars or loud unknown provenance — so the caller's
    // update silently vanishes; fail loudly instead. Tables
    // maintained by putMeta alone (the signature-geometry stores)
    // never have sidecars. Once every sidecar is GC'd (plain
    // overwrites aged the era out entirely), putMeta is legal again:
    // with no versioned trace left, the table-level label coherently
    // describes the table.
    if (metaVersions(table).nonEmpty)
      throw new IllegalStateException(
        s"$root/$table: this table's properties are versioned " +
          "(_META_v sidecars via overwriteWithMeta) — a legacy putMeta " +
          "would never be served; refresh it through overwriteWithMeta")
    atomicWrite(metaPath(table), renderMeta(props))
  }

  /** Per-version `_META_v<n>` sidecar path — written by
    * [[overwriteWithMeta]] BEFORE the `_CURRENT` flip, so the
    * snapshot's data and its properties commit atomically (readers
    * resolving the pointer see either the old pair or the new pair,
    * never new data under old properties — the calibration-refresh
    * race the table-level `_META` write order could not close).
    */
  private def metaVPath(table: String, v: Long) =
    new Path(s"$root/$table/_META_v$v")

  /** Versions carrying a versioned `_META_v<n>` sidecar, ascending. */
  private def metaVersions(table: String): Seq[Long] = {
    val dir = new Path(s"$root/$table")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_META_v"))
      .flatMap(n => scala.util.Try(n.stripPrefix("_META_v").toLong).toOption)
      .sorted
  }

  /** Properties for the table: the `_META_v<current>` sidecar when
    * the CURRENT version carries one (committed via
    * [[overwriteWithMeta]]), else the table-level `_META` written by
    * [[putMeta]]; empty for tables with neither. Resolution is
    * EXACT-version, not newest-at-or-below (code review r16): a
    * version committed WITHOUT a sidecar — a plain [[overwrite]], or
    * a [[merge]] — after an overwriteWithMeta must read as "no
    * versioned properties" (falling back to the legacy sidecar, or
    * unknown provenance), never serve the SUPERSEDED snapshot's
    * label for data it does not describe: a stale label under fresh
    * cells is exactly the silent miscalibration the atomic commit
    * exists to prevent. Consequence: overwriteWithMeta tables are
    * full-replace tables — refresh them only through
    * overwriteWithMeta (a merge would drop them to unknown
    * provenance, loudly).
    */
  def getMeta(table: String): Map[String, String] = {
    // tolerant sidecar read: a sidecar GC'd between the exists probe
    // and the read degrades to the legacy path (consistent-pair
    // consumers use readSnapshotWithMeta, which retries instead)
    val exact = currentVersion(table).map(metaVPath(table, _))
      .filter(fs.exists)
      .flatMap(p => try Some(parseMeta(readFully(p)))
        catch { case _: java.io.FileNotFoundException => None })
    exact.getOrElse {
      // legacy fallback ONLY for tables that never entered the
      // versioned-sidecar era (ADVICE r16): once any _META_v exists,
      // a current version without its own sidecar is unknown
      // provenance — the legacy table-level _META describes some
      // SUPERSEDED snapshot, and serving its label over fresher cells
      // is the exact stale pairing the exact-version rule blocks for
      // sidecars
      if (metaVersions(table).nonEmpty) Map.empty
      else {
        val p = metaPath(table)
        if (!fs.exists(p)) Map.empty else parseMeta(readFully(p))
      }
    }
  }

  def currentVersion(table: String): Option[Long] = {
    val p = pointer(table)
    if (!fs.exists(p)) None
    else Some(new String(readFully(p), "UTF-8").trim.toLong)
  }

  def exists(table: String): Boolean = currentVersion(table).isDefined

  private def readBucketsFile(table: String): Option[BucketsFile] = {
    val raw =
      try new String(readFully(bucketsPath(table)), "UTF-8")
      catch { case _: java.io.FileNotFoundException => return None }
    def malformed(what: String) =
      new IllegalStateException(s"$root/$table: _BUCKETS $what")
    val lines = raw.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    def header(tag: String) =
      lines.find(_.startsWith(s"#$tag ")).map(_.stripPrefix(s"#$tag ").trim)
    def required(tag: String) = header(tag).getOrElse(throw malformed(s"lacks its #$tag line"))
    val entries = lines.filterNot(_.startsWith("#")).map(_.split("\\s+") match {
      case Array(b, v, n) => (b.toInt, v.toLong, n.toLong)
      case e => throw malformed(s"line '${e.mkString(" ")}' is not 'bucket version bytes'")
    })
    Some(BucketsFile(raw, required("n").toInt,
      DataType.fromJson(required("schema")).asInstanceOf[StructType],
      required("token"),
      entries.map { case (b, v, _) => b -> v }.toMap,
      entries.map { case (b, _, n) => b -> n }.toMap,
      header("delta").map { d =>
        val Array(v, key) = d.split(" ", 2)
        Delta(v.toLong, key)
      }))
  }

  /** The committed state of an existing table. */
  private def state(table: String): BucketsFile = readBucketsFile(table).getOrElse(
    throw new IllegalStateException(s"$root/$table: _CURRENT without _BUCKETS"))

  private def readFully(p: Path): Array[Byte] = {
    val in = controlFs.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def bucketDataPaths(table: String, m: Map[Int, Long]): Seq[String] =
    m.toSeq.sortBy(_._1).map {
      case (-1, v) => versionDir(table, v)
      case (b, v) => s"${versionDir(table, v)}/__bucket=$b"
    }

  def read(table: String): DataFrame = {
    if (!exists(table))
      throw new IllegalStateException(s"no such table: $root/$table")
    val f = state(table)
    val cached = handles.get(table)
    if (cached != null && cached._1 == f.raw) cached._2
    else {
      val df = scan(table, f)
      handles.put(table, (f.raw, df))
      df
    }
  }

  /** The last committed `_BUCKETS` content read per table, with the
    * DataFrame [[read]] built for it. */
  @transient private lazy val handles =
    new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]()

  /** Parquet scan of a commit's buckets, typed by its schema; with a
    * delta, the base rows the delta does not replace, plus the delta.
    * A mapped bucket dir that is missing fails the scan: a read never
    * returns a subset of the committed rows.
    */
  private def scan(table: String, f: BucketsFile): DataFrame = {
    val paths = bucketDataPaths(table, f.map)
    if (paths.isEmpty)
      throw new IllegalStateException(s"no data for table: $root/$table")
    // recursiveFileLookup disables partition-directory inference — the
    // leaf dirs come from different snapshot versions, which would
    // otherwise trip "conflicting directory structures".
    val base = spark.read.schema(f.schema).option("recursiveFileLookup", "true")
      .parquet(paths: _*)
    f.delta.fold(base) { d =>
      // the delta is below the broadcast threshold by construction
      // (compaction bound); null-safe, so a null-key delta row
      // replaces the base's null-key row
      val delta = deltaRows(table, d, f.schema)
      base.join(broadcast(delta.select(col(d.key).as("__dk"))),
        base(d.key) <=> col("__dk"), "left_anti").unionByName(delta)
    }
  }

  private def deltaRows(table: String, d: Delta, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(versionDir(table, d.v))

  /** read(), or None when the table does not exist. */
  def readOption(table: String): Option[DataFrame] =
    if (exists(table)) Some(read(table)) else None

  /** read(), or an empty frame of `schema` when the table does not
    * exist (zero-row backfills deliberately leave tables uncreated).
    */
  def readOrEmpty(table: String, schema: StructType): DataFrame =
    readOption(table).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** Atomic pointer write: tmp file + overwriting rename — the
    * pointer is NEVER absent once created; a crash or concurrent
    * reader observes either the old or the new content.
    */
  private def atomicWrite(target: Path, content: String): Unit = {
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    // raw create: no CRC sidecar, so the rename below is the WHOLE
    // publish — nothing else has to flip in step with it
    val out = controlFs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if ("file".equalsIgnoreCase(fs.getUri.getScheme)) {
      // POSIX rename(2): atomically REPLACES the target in one
      // syscall. Hadoop's local FileContext rename with OVERWRITE is
      // delete-then-rename — a concurrent reader can observe the
      // pointer ABSENT between the two (caught by the r16 concurrent
      // refresh-while-serving pin), which breaks this store's
      // "pointer never absent once created" contract.
      java.nio.file.Files.move(
        java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(fs.makeQualified(target).toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      // HDFS and object-store schemes: FileContext rename with
      // OVERWRITE is a single atomic namespace operation
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(target),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  private def commit(table: String, v: Long, bucketMap: Map[Int, Long],
      bytes: Map[Int, Long], nb: Int, written: StructType, delta: Option[Delta] = None,
      prevReferenced: Set[Long] = Set.empty): Unit = {
    // Pointer-write ORDER is crash-critical, and differs by case:
    // - first commit: _BUCKETS before _CURRENT, so exists() only turns
    //   true once the map it implies is in place (a crash between the
    //   two leaves the table nonexistent — correct).
    // - later commits: _CURRENT before _BUCKETS. The reverse would
    //   leave a crashed merge's NEW map visible with the OLD version
    //   counter — the retry would then recompute the same v and
    //   SaveMode.Overwrite the very directories its input paths point
    //   into. With pointer-first, a crash leaves the old map intact:
    //   readers serve the pre-merge state and the retry writes a fresh
    //   v+1 directory.
    // The "#n" header pins the table's bucket count (self-describing
    // layout — see tableBuckets); "#schema" is the written schema less
    // the bucket partition column, "#token" makes every commit's
    // content unique, and "#delta" names the delta (see the class doc).
    val schema = StructType(written.filterNot(_.name == "__bucket"))
    val bucketsContent =
      (Seq(s"#n $nb", s"#schema ${schema.json}", s"#token ${java.util.UUID.randomUUID()}") ++
        delta.map(d => s"#delta ${d.v} ${d.key}") ++
        bucketMap.toSeq.sortBy(_._1).map { case (b, ver) => s"$b $ver ${bytes(b)}" })
        .mkString("\n")
    if (currentVersion(table).isEmpty) {
      atomicWrite(bucketsPath(table), bucketsContent)
      atomicWrite(pointer(table), v.toString)
    } else {
      atomicWrite(pointer(table), v.toString)
      atomicWrite(bucketsPath(table), bucketsContent)
    }
    cleanOld(table, v, bucketMap.values.toSet ++ delta.map(_.v), prevReferenced)
  }

  /** Full overwrite (initial backfill / small dimension tables /
    * catalog). Written flat — a subsequent merge re-buckets.
    */
  def overwrite(table: String, df: DataFrame): Unit = {
    val prev = priorVersions(table)
    val v = currentVersion(table).getOrElse(-1L) + 1L
    df.write.mode(SaveMode.Overwrite).parquet(versionDir(table, v))
    commitFlat(table, v, df.schema, prev)
  }

  /** The version dirs the table's last commit reads from; none for a
    * new table. */
  private def priorVersions(table: String): Set[Long] =
    readBucketsFile(table).fold(Set.empty[Long])(_.versions)

  /** Commits the flat snapshot written at `v`, with its bytes. */
  private def commitFlat(table: String, v: Long, written: StructType, prev: Set[Long]): Unit = {
    val bytes = dataFiles(new Path(versionDir(table, v))).map(_.getLen).sum
    commit(table, v, Map(-1 -> v), Map(-1 -> bytes), tableBuckets(table), written, None, prev)
  }

  /** [[overwrite]] with the snapshot's properties committed
    * ATOMICALLY alongside it: data dir and `_META_v<n>` sidecar are
    * both in place BEFORE the `_CURRENT` flip, so the pointer — the
    * single commit point — publishes the (data, properties) pair
    * together. A crash anywhere before the flip leaves the previous
    * pair fully served; there is no window where readers see new data
    * under old properties or vice versa (the two-step
    * overwrite+putMeta refresh has exactly that window between its
    * writes). Use for snapshot-versioned reference tables whose
    * properties name the snapshot (e.g. the quality-CDF calibration
    * store); read the consistent pair back via
    * [[readSnapshotWithMeta]].
    *
    * Writer contract: SINGLE WRITER PER TABLE (ADVICE r16). The
    * atomicity above is crash-atomicity, not isolation — two
    * concurrent refreshers can compute the same next version and one
    * writer's parquet dir can land under the other's sidecar before
    * they race on `_CURRENT`. The pre-flip check below turns the
    * common interleaving into a loud failure (the version read at
    * start must still be current at commit), but it is best-effort —
    * a local filesystem has no compare-and-swap rename, so a writer
    * sneaking in between the check and the flip is not detected.
    * Serialize refreshes per table (the calibration scheduler's
    * single maintenance job does).
    */
  def overwriteWithMeta(table: String, df: DataFrame,
      props: Map[String, String]): Unit = {
    validateMetaProps(props)
    val prev = priorVersions(table)
    val v0 = currentVersion(table)
    val v = v0.getOrElse(-1L) + 1L
    def checkUnmoved(stage: String): Unit = {
      val vNow = currentVersion(table)
      if (vNow != v0) throw new IllegalStateException(
        s"$root/$table: concurrent refresh detected $stage — _CURRENT " +
          s"moved from ${v0.getOrElse(-1L)} to ${vNow.getOrElse(-1L)} " +
          s"while this overwriteWithMeta was staging version $v; " +
          "overwriteWithMeta tables are single-writer (serialize refreshes)")
    }
    // BEFORE the destructive write (review r17): if another writer
    // already committed the same next version, overwriting its dir
    // would clobber COMMITTED data before this writer's own check
    // could abort it; catching the already-moved pointer here leaves
    // the winner untouched. (Best-effort, as documented above — a
    // writer landing between this read and the write is undetectable
    // without a CAS rename.)
    checkUnmoved("before staging")
    df.write.mode(SaveMode.Overwrite).parquet(versionDir(table, v))
    // the era is permanent (review r17): retire the legacy table-level
    // _META on every overwriteWithMeta, BEFORE the flip. Era detection
    // via surviving sidecars is GC-defeatable — cleanOld drops
    // sidecars of superseded versions after one grace commit, so a
    // plain overwrite + one more commit would otherwise resurrect the
    // legacy label for data it never described. Retire = PROMOTE then
    // delete (review r17, second pass): the legacy label describes the
    // STILL-CURRENT snapshot v0 until the pointer flips, so a bare
    // delete that crashed before the flip would strip a live
    // snapshot's provenance (and era-permanence locks putMeta, so it
    // could never be restored). Re-writing it first as v0's exact
    // _META_v sidecar preserves the pair across every crash point:
    // after the flip it is superseded and GC'd on the normal grace
    // schedule, before the flip it serves exactly what the legacy
    // fallback served. Placed AFTER the (long, failure-prone) data
    // write (review r17, third pass): a df whose computation throws
    // must leave the table OUT of the sidecar era entirely — the
    // promote-first ordering era-locked putMeta on a refresh that
    // never staged any data.
    val legacy = metaPath(table)
    if (fs.exists(legacy)) {
      v0.foreach { cur =>
        val curSidecar = metaVPath(table, cur)
        if (!fs.exists(curSidecar))
          try atomicWrite(curSidecar,
            new String(readFully(legacy), "UTF-8"))
          catch { case _: java.io.FileNotFoundException => () }
      }
      fs.delete(legacy, false)
    }
    atomicWrite(metaVPath(table, v), renderMeta(props))
    checkUnmoved("before the pointer flip")
    commitFlat(table, v, df.schema, prev)
  }

  /** The current snapshot's data and the properties committed WITH it,
    * resolved from ONE `_CURRENT` read — the consistent pair for
    * tables maintained by [[overwriteWithMeta]]. Separate
    * `getMeta`+`read` calls each resolve the pointer independently,
    * so a refresh landing between them can pair one snapshot's
    * properties with another's data; here both halves derive from the
    * same version (whose files are immutable and GC-graced one commit
    * cycle). Tables without a versioned sidecar at the current
    * version (legacy two-step writers, or a merge since the last
    * overwriteWithMeta) fall back to `(read, getMeta)` with that
    * pairing caveat.
    */
  def readSnapshotWithMeta(table: String): (DataFrame, Map[String, String]) = {
    // bounded retry (code review r16): a reader can resolve a version
    // whose sidecar was just GC'd because refreshes outpaced it —
    // falling back to the two-call pair THERE would silently re-open
    // the torn-pair window this method exists to close, so re-resolve
    // instead. But a current version that lacks a sidecar and is
    // STABLE across two looks (a plain overwrite/merge landed, or a
    // legacy putMeta table) is not a race: take the documented
    // two-call fallback — with exact-version getMeta that reads as
    // the table-level properties or unknown provenance, never a
    // superseded snapshot's label.
    var attempt = 0
    var lastV = Long.MinValue
    while (true) {
      val v = currentVersion(table).getOrElse(
        throw new IllegalStateException(s"no such table: $root/$table"))
      val mp = metaVPath(table, v)
      // tolerant sidecar read (review r16): a sidecar GC'd between
      // the exists probe and the read is the same outpacing race —
      // fall through to the retry instead of surfacing a raw
      // FileNotFoundException
      val sidecar =
        if (!fs.exists(mp)) None
        else try Some(parseMeta(readFully(mp)))
        catch { case _: java.io.FileNotFoundException => None }
      sidecar match {
        case Some(m) =>
          // the commit's schema when the bucket map just read is this
          // version's flat snapshot; inferred (a Spark job) in the window
          // where a commit has moved _CURRENT but not yet _BUCKETS
          val schema = readBucketsFile(table).filter(_.map == Map(-1 -> v)).map(_.schema)
          val reader = spark.read.option("recursiveFileLookup", "true")
          return (schema.fold(reader)(reader.schema).parquet(versionDir(table, v)), m)
        case None =>
          if (v == lastV || metaVersions(table).isEmpty) {
            // STABLE sidecar-less version: pair the data with the
            // LEGACY table-level _META only — a plain getMeta here
            // could find a versioned sidecar a refresh committed
            // between our two calls and pair a FRESH label with this
            // resolution's older cells (review r16); legacy-absent
            // reads as unknown provenance, which is loud downstream.
            // And only for tables that never entered the sidecar era
            // (ADVICE r16, the getMeta rule): once any _META_v
            // exists, the legacy _META describes a superseded
            // snapshot — unknown provenance, never its stale label.
            val p = metaPath(table)
            val legacy =
              if (metaVersions(table).nonEmpty || !fs.exists(p))
                Map.empty[String, String]
              else parseMeta(readFully(p))
            return (read(table), legacy)
          }
          lastV = v
          attempt += 1
          if (attempt >= 5) throw new IllegalStateException(
            s"$root/$table: refreshes outpaced this reader $attempt times " +
              "(each resolved version's _META_v sidecar was replaced before " +
              "it could be read) — retry under a calmer refresh cadence")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** MERGE: rows in `updates` replace same-key rows in the current
    * snapshot; new keys are appended. `updates` must contain at most
    * one row per key (enforce upstream), matching the reference's
    * ON CONFLICT upsert semantics. Into a bucketed table it writes a
    * new delta and rewrites no bucket; the copy-on-write compaction
    * runs instead where the class doc says. Returns whether it
    * committed a version: an empty `updates` commits none.
    */
  def merge(table: String, updates: DataFrame, key: String): Boolean = {
    if (!exists(table)) return firstMerge(table, updates, key)
    val f = state(table)
    val schema = f.schema
    // additive schema evolution: updates carrying a column the table
    // lacks, or a column the union widens (an int batch into a long
    // column does not), force a one-time FULL rewrite, so every
    // committed file shares the widened schema — rewriting only
    // touched buckets, or writing a delta, would leave mixed-schema
    // files and read() projects the header's schema
    val evolving = updates.schema.exists(u => schema.find(_.name == u.name).forall(c =>
      GraftColumnBridge.unionType(spark, c.dataType, u.dataType)
        .forall(w => !DataTypeUtils.equalsIgnoreNullability(w, c.dataType))))
    if (!(f.map.contains(-1) || evolving || compactionBound(f) <= 0 ||
        f.delta.exists(_.key != key)))
      return appendDelta(table, f, updates, key, currentVersion(table).get + 1L)
    // copy-on-write: several actions over `updates` (the touched-bucket
    // collect, the anti-join probe, the union write) — persisted, so
    // callers need not pre-persist to avoid repeated upstream I/O
    val upd = updates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var g = f
      // a delta the batch cannot fold into is compacted on its own first
      if (g.delta.exists(d => evolving || d.key != key)) {
        if (upd.isEmpty) return false
        compact(table, g)
        g = state(table)
      }
      // the pre-merge versions keep their one-commit grace across both
      // commits when a compaction ran first
      val prev = f.versions ++ g.versions
      val v = currentVersion(table).get + 1L
      val rows = g.delta match {
        case None => upd
        case Some(d) =>
          // compaction of delta ∪ batch in one commit
          if (upd.isEmpty) return false
          lastWriter(deltaRows(table, d, schema),
            upd.select(schema.fieldNames.map(col).toIndexedSeq: _*), key)
      }
      rewrite(table, g, rows, Some(rows), key, v, full = g.map.contains(-1) || evolving, prev)
    } finally upd.unpersist()
  }

  /** First write: bucketed from the start. */
  private def firstMerge(table: String, updates: DataFrame, key: String): Boolean = {
    val nb = tableBuckets(table)
    val v = 0L
    bucketedWrite(updates.withColumn("__bucket", bucketOf(key, nb)), versionDir(table, v))
    val written = writtenBuckets(table, v)
    if (written.isEmpty) {
      // zero-row first merge: committing an empty bucket map would
      // make exists() true but read() impossible — leave the table
      // nonexistent instead
      fs.delete(new Path(versionDir(table, v)), true)
      return false
    }
    commit(table, v, written.map { case (b, _) => b -> v }, written, nb, updates.schema)
    true
  }

  /** The delta bytes at which a MERGE compacts: the mean base bucket's
    * bytes, capped by the broadcast threshold the delta read relies
    * on. */
  private def compactionBound(f: BucketsFile): Long =
    math.min(f.bytes.values.sum / f.bytes.size.max(1), GraftColumnBridge.broadcastThreshold(spark))

  /** Writes the table's next delta — the old delta's rows whose key
    * `upd` does not carry, plus `upd` — and commits it beside the
    * unchanged bucket map, or compacts it when it passes the bound.
    * `upd` is read once, by the delta write, so it is not persisted. An
    * empty `upd` commits nothing; the written files' footers tell, so
    * it costs no job.
    */
  private def appendDelta(table: String, f: BucketsFile, upd: DataFrame, key: String,
      v: Long): Boolean = {
    val dir = new Path(versionDir(table, v))
    // in the table's column order and types (a narrower column is cast
    // up); a missing column fails here, loudly
    val batch = upd.select(f.schema.fields.map { c =>
      if (upd.schema.find(_.name == c.name)
          .forall(u => DataTypeUtils.equalsIgnoreNullability(u.dataType, c.dataType))) col(c.name)
      else col(c.name).cast(c.dataType).as(c.name)
    }.toIndexedSeq: _*)
    // a shuffle either way, whose partitions adaptive execution sizes:
    // one file for a small delta
    val next = f.delta.fold(batch.hint("rebalance"))(d =>
      lastWriter(deltaRows(table, d, f.schema), batch, key))
    next.write.mode(SaveMode.Overwrite).parquet(dir.toString)
    val files = dataFiles(dir)
    if (files.map(rowCount).sum == 0L) {
      fs.delete(dir, true)
      return false
    }
    val written = Delta(v, key)
    if (files.map(_.getLen).sum > compactionBound(f)) {
      val rows = deltaRows(table, written, f.schema)
      rewrite(table, f, rows, Some(rows), key, v + 1L, full = false, f.versions)
    } else commit(table, v, f.map, f.bytes, f.nb, f.schema, Some(written), f.versions)
    true
  }

  /** Rows in one parquet file, from its footer. */
  private def rowCount(st: FileStatus): Long = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration))
    try reader.getRecordCount finally reader.close()
  }

  /** `old` rows whose key `batch` does not carry (null keys alike),
    * plus `batch`: one shuffle on the key. */
  private def lastWriter(old: DataFrame, batch: DataFrame, key: String): DataFrame =
    old.withColumn("__o", lit(0)).unionByName(batch.withColumn("__o", lit(1)))
      .withColumn("__last", max(col("__o")).over(Window.partitionBy(col(key))))
      .filter(col("__o") === col("__last")).drop("__o", "__last")

  /** Folds the table's delta into its buckets. */
  private def compact(table: String, f: BucketsFile): Unit = {
    val d = f.delta.get
    val rows = deltaRows(table, d, f.schema)
    rewrite(table, f, rows, Some(rows), d.key, currentVersion(table).get + 1L, full = false,
      f.versions)
  }

  /** The copy-on-write body, written at version `v` and committed with
    * no delta: base rows whose key `keys` carries (null keys alike) are
    * removed and `rows`, when given, are appended — a MERGE passes its
    * rows as both, a [[delete]] only the keys. Rewrites ONLY the
    * buckets `keys` hash into, or every bucket when `full` (a flat
    * snapshot is re-bucketed; a schema evolution widens every file).
    * The caller has folded any delta into `rows`; `prev` keeps its
    * grace (see [[cleanOld]]). A result with no row left drops the
    * table. Returns false, and commits nothing, when `keys` is empty
    * or, with no rows to add, none of the buckets it hashes into holds
    * data.
    */
  private def rewrite(table: String, f: BucketsFile, keys: DataFrame, rows: Option[DataFrame],
      key: String, v: Long, full: Boolean, prev: Set[Long]): Boolean = {
    val keyed = keys.select(col(key)).withColumn("__bucket", bucketOf(key, f.nb))
    val touched = keyed.select("__bucket").distinct().collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) return false
    val cur = if (full) f.map else f.map.filter { case (b, _) => touched(b) }
    if (cur.isEmpty && rows.isEmpty) return false
    // a flat snapshot has no bucket dirs yet — its rows are bucketed
    // by recomputed bucket, every one of them rewritten
    val curRows = spark.read.schema(f.schema).option("recursiveFileLookup", "true")
      .parquet(bucketDataPaths(table, cur): _*).withColumn("__bucket", bucketOf(key, f.nb))
    // null-safe anti join: a null-key update must REPLACE the
    // existing null-key row, not append a duplicate every merge, and
    // deleting a null key removes the null-key row (plain equality
    // never matches null = null)
    val kept = curRows.join(keyed.select(col(key).as("__mk")), curRows(key) <=> col("__mk"),
      "left_anti")
    val next = rows.fold(kept) { r =>
      val upd = r.withColumn("__bucket", bucketOf(key, f.nb))
      // schema evolution, additive only: a column newly produced by the
      // render path (e.g. search_token_counts) must not be silently
      // dropped when merging into a pre-existing table — widen KEPT
      // rows with nulls instead, so consumers see the column and can
      // coalesce legacy rows. An update missing a CURRENT column still
      // fails loudly in unionByName (a sign the caller regressed).
      upd.columns.filterNot(kept.columns.contains).foldLeft(kept)((d, c) =>
        d.withColumn(c, lit(null).cast(upd.schema(c).dataType))).unionByName(upd)
    }
    bucketedWrite(next, versionDir(table, v))
    val written = writtenBuckets(table, v)
    val (base, baseBytes) = if (full) (Map.empty[Int, Long], Map.empty[Int, Long])
      else (f.map -- touched, f.bytes -- touched)
    // touched buckets that became empty simply vanish from the map
    val map = base ++ written.map { case (b, _) => b -> v }
    // every remaining row deleted: an empty table is a nonexistent
    // table (same invariant as the zero-row first merge) — a committed
    // empty bucket map would make exists() true while read() throws
    if (map.isEmpty) drop(table)
    else commit(table, v, map, baseBytes ++ written, f.nb, next.schema, None, prev)
    true
  }

  /** The parquet files in `dir` and its bucket dirs. Plain listings: a
    * recursive `listFiles` returns located statuses, which on the local
    * filesystem load each file's permissions (a shell command per file
    * without Hadoop's native library; ~110 ms for a 16-bucket write). */
  private def dataFiles(dir: Path): Seq[FileStatus] = {
    if (!fs.exists(dir)) return Seq.empty
    val (dirs, files) = fs.listStatus(dir).toSeq.partition(_.isDirectory)
    (files ++ (if (dirs.isEmpty) Nil else fs.listStatus(dirs.map(_.getPath).toArray).toSeq))
      .filter { st =>
        val name = st.getPath.getName
        !name.startsWith(".") && !name.startsWith("_")
      }
  }

  /** Buckets present in a freshly written snapshot dir, with their bytes. */
  private def writtenBuckets(table: String, v: Long): Map[Int, Long] =
    dataFiles(new Path(versionDir(table, v))).map(st => st.getPath.getParent.getName -> st.getLen)
      .collect { case (d, n) if d.startsWith("__bucket=") => d.stripPrefix("__bucket=").toInt -> n }
      .groupMapReduce(_._1)(_._2)(_ + _)

  /** Delete rows whose key appears in `keys`: compacts any delta, then
    * runs the copy-on-write body of [[merge]] with no rows to add. An
    * empty `keys` commits nothing and keeps the delta.
    */
  def delete(table: String, keys: DataFrame, key: String): Unit = {
    if (!exists(table)) return
    val f = state(table)
    val g = if (f.delta.isEmpty) f else {
      if (keys.isEmpty) return
      compact(table, f)
      state(table)
    }
    // the pre-delete versions keep their one-commit grace across both
    // commits when a compaction ran first
    rewrite(table, g, keys, None, key, currentVersion(table).get + 1L,
      full = g.map.contains(-1), f.versions ++ g.versions)
  }

  def drop(table: String): Unit = {
    val p = new Path(s"$root/$table")
    if (fs.exists(p)) fs.delete(p, true)
    handles.remove(table)
  }

  /** GC snapshot dirs neither the bucket map nor the delta references.
    * `prevReferenced` — the versions the PREVIOUS commit's bucket map
    * and delta pointed at — are retained for one more commit cycle, so
    * a reader that resolved its file listing (or holds its handle)
    * just before this commit still finds its data (the standard
    * one-commit grace; readers idle across multiple commits need a
    * longer retention policy, as with Delta VACUUM).
    */
  private def cleanOld(table: String, current: Long, live: Set[Long],
      prevReferenced: Set[Long]): Unit = {
    val dir = new Path(s"$root/$table")
    if (!fs.exists(dir)) return
    val referenced = live ++ prevReferenced + current
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("v_")) {
        val v = name.stripPrefix("v_").toLong
        if (v < current - 1 && !referenced.contains(v)) fs.delete(st.getPath, true)
      }
    }
    // versioned _META sidecars: exact-version resolution (getMeta)
    // means only the current version's sidecar is live — keep it plus
    // one commit cycle of grace, mirroring the snapshot-dir policy,
    // so an in-flight consistent-pair reader still finds the sidecar
    // its pointer read implied
    metaVersions(table).filter(_ < current - 1)
      .foreach(w => fs.delete(metaVPath(table, w), false))
  }
}

object ParquetStore {
  /** One `_BUCKETS` file: its exact text, the header fields, the
    * bucket → snapshot version map and each bucket's bytes. Bucket -1 marks a flat (unbucketed)
    * snapshot written by overwrite().
    */
  private final case class BucketsFile(raw: String, nb: Int, schema: StructType,
      token: String, map: Map[Int, Long], bytes: Map[Int, Long], delta: Option[Delta]) {
    /** Every version dir this commit reads from. */
    def versions: Set[Long] = map.values.toSet ++ delta.map(_.v)
  }

  /** The delta at version `v`, whose rows replace base rows by `key`. */
  private final case class Delta(v: Long, key: String)
}
