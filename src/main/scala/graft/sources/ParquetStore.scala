package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, count, hash, lit, max, pmod}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Observation, SaveMode, SparkSession}

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
  * Layout per table: one control file, `_BUCKETS`, and the snapshot
  * dirs it names.
  *   `_BUCKETS`       — header lines, then "bucket version bytes" lines:
  *                      which snapshot dir holds each bucket's current
  *                      data and its parquet bytes (-1 = flat,
  *                      unbucketed snapshot from overwrite()). Header
  *                      lines start with `#`; every commit writes
  *                      `#version`, `#n`, `#schema` and `#token`:
  *                      `#version <n>` is the commit's version (the
  *                      next commit writes `v_<n+1>`),
  *                      `#n <buckets>` pins the bucket count,
  *                      `#schema <json>` is the schema the commit wrote
  *                      (so a read needs no parquet schema inference,
  *                      which is a Spark job), `#token <uuid>` is unique
  *                      per commit (a dropped and re-created table that
  *                      re-commits an identical bucket map at `v_0`
  *                      still reads as new content),
  *                      `#base <uuid>` names the base the commit reads
  *                      (minted by every commit that writes buckets or a
  *                      flat snapshot, carried by a delta commit),
  *                      `#delta <version> <key>` names the delta dir and
  *                      the key its rows replace base rows by, and
  *                      `#tprop <key> <value>` / `#sprop <key> <value>`
  *                      are the table's properties (see [[getMeta]])
  *   `v_<n>/__bucket=<b>/` — parquet for the buckets rewritten at n
  *   `v_<n>/`         — or, for a delta version, its unbucketed rows
  * A `_BUCKETS` without `#version` or one of `#n`, `#schema`, `#token`
  * fails loudly, naming the table, as does a first write into a table
  * dir an older layout left control files in.
  *
  * [[read]] returns one DataFrame per committed `_BUCKETS` content and
  * hands the same object back until the next commit: no file listing,
  * no schema job, and callers may key caches on the handle by
  * reference. With a delta the handle is the base buckets null-safely
  * (`<=>`) left-anti-joined against the broadcast delta keys, union the
  * delta: last writer per key, never all-pairs. A table without a
  * delta reads its buckets alone. [[readHandle]] also tells the
  * reader the base's identity and the delta's rows, so a reader that
  * holds a copy of an earlier commit's rows over the same base can
  * bring it forward from the delta alone (bucket versions cannot tell
  * bases apart: a dropped and re-created table restarts at `v_0`).
  *
  * A commit is one overwriting rename of `_BUCKETS` (posix/HDFS rename
  * onto an existing path is atomic), so readers never observe a
  * missing or partial file, and a table's rows, version and properties
  * flip together; a failed write leaves the previous commit intact —
  * idempotent-retry safe, which is what makes the streaming path's
  * at-least-once delivery correct (SURVEY §7.4). Old snapshot dirs
  * are GC'd once neither the bucket map nor the delta references them,
  * after one commit of grace (see [[cleanOld]]).
  *
  * Concurrency contract: ONE writer per table (the engine is the
  * single writer; streaming micro-batches are serialized by
  * foreachBatch). Two concurrent merges would race the version
  * counter — multi-writer needs the optimistic-commit protocol of a
  * real table format, which is part of what the Delta swap buys.
  * Readers are safe against a single concurrent writer: commits are
  * atomic renames, and GC retains the previous commit's bucket
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
  import ParquetStore.{BucketsFile, Delta, DeltaRows, Handle, Ready, newBase}

  /** The session this store reads/writes with — for helpers that
    * build driver-side frames destined for this store (review r19:
    * `SparkSession.active` is the wrong session whenever the caller's
    * context differs from the store's, and throws when none is
    * active). */
  private[graft] def session: SparkSession = spark

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `_BUCKETS` IO through the RAW filesystem when the scheme wraps a
    * checksummed one (local `file://`): ChecksumFileSystem keeps each
    * file's CRC in a separate `.name.crc` sidecar which does NOT flip
    * atomically with the overwriting rename, so a concurrent reader
    * could pair the NEW bytes with the OLD sidecar and fail with
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
  private def bucketsPath(table: String) = new Path(s"$root/$table/_BUCKETS")
  private def versionDir(table: String, v: Long) = s"$root/$table/v_$v"

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

  /** Property keys must be whitespace-free, values newline-free, so a
    * `#tprop`/`#sprop` header line can never be corrupted into
    * silently wrong pairs. */
  private def validateProps(props: Map[String, String]): Unit = {
    require(props.keys.forall(k => k.nonEmpty && !k.exists(_.isWhitespace)),
      s"property keys must be non-empty and whitespace-free: ${props.keys}")
    require(props.values.forall(v => !v.exists(c => c == '\n' || c == '\r')),
      "property values must be newline-free")
  }

  /** The table's key→value properties, committed in `_BUCKETS` with the
    * rows they describe; empty for a table that does not exist. Index
    * builders record their frozen build parameters here (e.g. the
    * MinHash (shingleN, numHashes, bands) geometry) so a probe can
    * REQUIRE-match them instead of trusting the caller to have
    * remembered them. Two scopes:
    *  - table properties, set by [[merge]]: every later merge, delete
    *    and compaction carries them (they describe the table);
    *  - snapshot properties, set by [[overwrite]]: the next commit
    *    drops them (they name one snapshot, e.g. a calibration
    *    release, and a stale label over fresh cells is the silent
    *    miscalibration they exist to prevent).
    * Properties passed to a write replace both scopes; a write without
    * them carries the table properties.
    */
  def getMeta(table: String): Map[String, String] =
    state(table).fold(Map.empty[String, String])(_.props)

  /** The version of the table's last commit. */
  def currentVersion(table: String): Option[Long] = state(table).map(_.version)

  def exists(table: String): Boolean = controlFs.exists(bucketsPath(table))

  /** The committed `_BUCKETS` text, or None when the table does not exist. */
  private def readRaw(table: String): Option[String] = {
    val in = try controlFs.open(bucketsPath(table))
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  /** The committed state of a table, or None when it does not exist. */
  private def state(table: String): Option[BucketsFile] = readRaw(table).map(parse(table, _))

  private def parse(table: String, raw: String): BucketsFile = {
    def malformed(what: String) =
      new IllegalStateException(s"$root/$table: _BUCKETS $what")
    val lines = raw.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    def headers(tag: String) =
      lines.filter(_.startsWith(s"#$tag ")).map(_.stripPrefix(s"#$tag ").trim)
    def required(tag: String) =
      headers(tag).headOption.getOrElse(throw malformed(s"lacks its #$tag line"))
    def props(tag: String) = headers(tag).map { p =>
      val i = p.indexOf(' ')
      if (i < 0) p -> "" else p.substring(0, i) -> p.substring(i + 1)
    }.toMap
    if (headers("version").isEmpty) throw oldLayout(table)
    val entries = lines.filterNot(_.startsWith("#")).map(_.split("\\s+") match {
      case Array(b, v, n) => (b.toInt, v.toLong, n.toLong)
      case e => throw malformed(s"line '${e.mkString(" ")}' is not 'bucket version bytes'")
    })
    val f = BucketsFile(required("version").toLong, required("n").toInt,
      DataType.fromJson(required("schema")).asInstanceOf[StructType],
      entries.map { case (b, v, _) => b -> v }.toMap,
      entries.map { case (b, _, n) => b -> n }.toMap,
      headers("base").headOption,
      headers("delta").headOption.map { d =>
        val Array(v, key) = d.split(" ", 2)
        Delta(v.toLong, key)
      },
      props("tprop"), props("sprop"))
    required("token") // every commit writes one; the cache keys on it
    f
  }

  /** The old layout kept a `_CURRENT` version pointer and `_META` /
    * `_META_v<n>` property files beside a `_BUCKETS` without
    * `#version`. Such a table fails loudly and is re-created. */
  private def oldLayout(table: String) = new IllegalStateException(
    s"$root/$table: a table in the old store layout (_CURRENT, _META or _META_v files, " +
      "or a _BUCKETS without #version) — drop and re-create it")

  /** A first commit must not land beside the old layout's control
    * files, which would outlive it. */
  private def requireNoOldLayout(table: String): Unit = {
    val dir = new Path(s"$root/$table")
    if (fs.exists(dir) && fs.listStatus(dir).map(_.getPath.getName)
        .exists(n => n.startsWith("_CURRENT") || n.startsWith("_META")))
      throw oldLayout(table)
  }

  private def bucketDataPaths(table: String, m: Map[Int, Long]): Seq[String] =
    m.toSeq.sortBy(_._1).map {
      case (-1, v) => versionDir(table, v)
      case (b, v) => s"${versionDir(table, v)}/__bucket=$b"
    }

  def read(table: String): DataFrame = readSnapshotWithMeta(table)._1

  /** The current snapshot's data and the properties committed with it,
    * from one `_BUCKETS` read: a consistent pair whatever commit lands
    * meanwhile (separate [[getMeta]] and [[read]] calls each read the
    * file, so a commit between them can pair one snapshot's
    * properties with another's data). */
  def readSnapshotWithMeta(table: String): (DataFrame, Map[String, String]) =
    handle(table).map { case (h, f) => (h.rows, f.props) }
      .getOrElse(throw new IllegalStateException(s"no such table: $root/$table"))

  /** The table's current [[Handle]], or None when it does not exist:
    * the same object until the next commit, like [[read]]'s frame. */
  def readHandle(table: String): Option[Handle] = handle(table).map(_._1)

  /** The handle for the table's current commit, with its parsed state;
    * built (and the file parsed) only when the content changed. A
    * commit that kept the cached commit's base reuses its base scan,
    * whose file listing is then not repeated. */
  private def handle(table: String): Option[(Handle, BucketsFile)] = readRaw(table).map { raw =>
    val cached = handles.get(table)
    if (cached != null && cached.raw == raw) (cached.handle, cached.f)
    else {
      val f = parse(table, raw)
      val base = Option(cached).filter(c => f.base.nonEmpty && c.f.base == f.base && c.f.map == f.map)
        .fold(baseScan(table, f))(_.base)
      val h = scan(table, f, base)
      handles.put(table, Cached(raw, f, h, base))
      (h, f)
    }
  }

  /** The last committed `_BUCKETS` content read per table, with its
    * parsed state, the handle built for it and its base scan. */
  private case class Cached(raw: String, f: BucketsFile, handle: Handle, base: DataFrame)
  @transient private lazy val handles = new java.util.concurrent.ConcurrentHashMap[String, Cached]()

  /** Parquet scan of a commit's buckets, typed by its schema. A mapped
    * bucket dir that is missing fails the scan: a read never returns a
    * subset of the committed rows.
    */
  private def baseScan(table: String, f: BucketsFile): DataFrame = {
    val paths = bucketDataPaths(table, f.map)
    if (paths.isEmpty)
      throw new IllegalStateException(s"no data for table: $root/$table")
    // recursiveFileLookup disables partition-directory inference — the
    // leaf dirs come from different snapshot versions, which would
    // otherwise trip "conflicting directory structures".
    spark.read.schema(f.schema).option("recursiveFileLookup", "true").parquet(paths: _*)
  }

  /** A commit's handle over its base scan: with a delta, the base rows
    * the delta does not replace, plus the delta. */
  private def scan(table: String, f: BucketsFile, base: DataFrame): Handle = {
    val delta = f.delta.map(d => DeltaRows(d.v, d.key, deltaRows(table, d, f.schema)))
    Handle(delta.fold(base) { d =>
      // the delta is below the broadcast threshold by construction
      // (compaction bound); null-safe, so a null-key delta row
      // replaces the base's null-key row
      base.join(broadcast(d.rows.select(col(d.key).as("__dk"))),
        base(d.key) <=> col("__dk"), "left_anti").unionByName(d.rows)
    }, f.base, delta)
  }

  private def deltaRows(table: String, d: Delta, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(versionDir(table, d.v))

  /** read(), or None when the table does not exist. */
  def readOption(table: String): Option[DataFrame] = handle(table).map(_._1.rows)

  /** read(), or an empty frame of `schema` when the table does not
    * exist (zero-row backfills deliberately leave tables uncreated).
    */
  def readOrEmpty(table: String, schema: StructType): DataFrame =
    readOption(table).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** Atomic control-file write: tmp file + overwriting rename — the
    * file is NEVER absent once created; a crash or concurrent reader
    * observes either the old or the new content.
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
      // file ABSENT between the two (caught by the r16 concurrent
      // refresh-while-serving pin), which breaks this store's
      // "never absent once created" contract.
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

  /** Publishes `next` — the table's one commit point — once `ready`
    * returns, then GCs; `prev` keeps its grace (see [[cleanOld]]). A
    * throwing `ready` publishes nothing. */
  private def commit(table: String, next: BucketsFile, prev: Set[Long],
      ready: () => Unit = Ready): Unit = {
    ready()
    atomicWrite(bucketsPath(table), next.render)
    cleanOld(table, next.version, next.versions, prev)
  }

  /** Full overwrite (initial backfill / small dimension tables /
    * catalog / snapshot-versioned reference tables). Written flat — a
    * subsequent merge re-buckets. `props`, when given, become the
    * snapshot's properties, committed with its rows (see [[getMeta]]):
    * a failed write leaves the previous (rows, properties) pair served,
    * and [[readSnapshotWithMeta]] reads the pair back.
    *
    * Writer contract: SINGLE WRITER PER TABLE. Serialize refreshes of
    * one table (the calibration scheduler's single maintenance job
    * does): two concurrent writers compute the same next version.
    */
  def overwrite(table: String, df: DataFrame, props: Map[String, String] = Map.empty): Unit = {
    validateProps(props)
    val prior = state(table)
    if (prior.isEmpty) requireNoOldLayout(table)
    val v = prior.fold(0L)(_.version + 1L)
    val dir = versionDir(table, v)
    df.write.mode(SaveMode.Overwrite).parquet(dir)
    val bytes = dataFiles(new Path(dir)).map(_.getLen).sum
    val tprops = if (props.nonEmpty) Map.empty[String, String]
      else prior.fold(Map.empty[String, String])(_.tprops)
    commit(table, BucketsFile(v, prior.fold(nBuckets)(_.nb), df.schema, Map(-1 -> v),
      Map(-1 -> bytes), newBase, None, tprops, props), prior.fold(Set.empty[Long])(_.versions))
  }

  /** MERGE: rows in `updates` replace same-key rows in the current
    * snapshot; new keys are appended. `updates` must contain at most
    * one row per key (enforce upstream), matching the reference's
    * ON CONFLICT upsert semantics. Into a bucketed table it writes a
    * new delta and rewrites no bucket; the copy-on-write compaction
    * runs instead where the class doc says. `props`, when given,
    * become the table properties, committed with the merged rows (see
    * [[getMeta]]). Returns whether it committed a version: an empty
    * `updates` commits none, and so records no `props`. Each commit
    * publishes only once `ready` returns: a caller that must order this
    * table's commit after another write waits for it there, while the
    * data is already written. A throwing `ready` commits nothing and
    * the MERGE rethrows.
    */
  def merge(table: String, updates: DataFrame, key: String,
      props: Map[String, String] = Map.empty, ready: () => Unit = Ready): Boolean = {
    validateProps(props)
    def recording(f: BucketsFile) = if (props.isEmpty) f else f.copy(tprops = props)
    val f0 = state(table).getOrElse(return firstMerge(table, updates, key, props, ready))
    val f = recording(f0)
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
      return appendDelta(table, f, updates, key, ready)
    // copy-on-write: several actions over `updates` (the touched-bucket
    // collect, the anti-join probe, the union write) — persisted, so
    // callers need not pre-persist to avoid repeated upstream I/O
    val upd = updates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var g = f
      // a delta the batch cannot fold into is compacted on its own
      // first, under the properties it was committed with
      if (g.delta.exists(d => evolving || d.key != key)) {
        if (upd.isEmpty) return false
        compact(table, f0, ready)
        g = recording(state(table).get)
      }
      // the pre-merge versions keep their one-commit grace across both
      // commits when a compaction ran first
      val prev = f.versions ++ g.versions
      val rows = g.delta match {
        case None => upd
        case Some(d) =>
          // compaction of delta ∪ batch in one commit
          if (upd.isEmpty) return false
          lastWriter(deltaRows(table, d, schema),
            upd.select(schema.fieldNames.map(col).toIndexedSeq: _*), key)
      }
      rewrite(table, g, rows, Some(rows), key, g.version + 1L,
        full = g.map.contains(-1) || evolving, prev, ready)
    } finally upd.unpersist()
  }

  /** First write: bucketed from the start. */
  private def firstMerge(table: String, updates: DataFrame, key: String,
      props: Map[String, String], ready: () => Unit): Boolean = {
    requireNoOldLayout(table)
    bucketedWrite(updates.withColumn("__bucket", bucketOf(key, nBuckets)), versionDir(table, 0L))
    val written = writtenBuckets(table, 0L)
    if (written.isEmpty) {
      // zero-row first merge: committing an empty bucket map would
      // make exists() true but read() impossible — leave the table
      // nonexistent instead
      fs.delete(new Path(versionDir(table, 0L)), true)
      return false
    }
    commit(table, BucketsFile(0L, nBuckets, updates.schema, written.map { case (b, _) => b -> 0L },
      written, newBase, None, props, Map.empty), Set.empty, ready)
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
    * `upd` is read once, by the delta write, so it is not persisted.
    * An empty `upd` commits nothing.
    *
    * A batch whose optimized plan is a local relation is on the driver
    * already: its key set filters the old delta's rows (null-safe: a
    * null key in the batch removes the old null-key row), and the kept
    * rows and the batch are written as one partition — one 1-task job,
    * and no job at all to tell an empty batch. Any other batch takes
    * [[lastWriter]]'s shuffle, and the write counts its rows as an
    * observed metric, so telling costs no job either.
    */
  private def appendDelta(table: String, f: BucketsFile, upd: DataFrame, key: String,
      ready: () => Unit): Boolean = {
    val v = f.version + 1L
    val dir = new Path(versionDir(table, v))
    // in the table's column order and types (a narrower column is cast
    // up); a missing column fails here, loudly. In the store's session,
    // as the old delta's read is: an observation completes only in the
    // session that runs the write, and a streaming micro-batch's frame
    // belongs to a session of its own.
    val batch = GraftColumnBridge.dataFrame(spark, GraftColumnBridge.logicalPlan(
      upd.select(f.schema.fields.map { c =>
        if (upd.schema.find(_.name == c.name)
            .forall(u => DataTypeUtils.equalsIgnoreNullability(u.dataType, c.dataType))) col(c.name)
        else col(c.name).cast(c.dataType).as(c.name)
      }.toIndexedSeq: _*)))
    val (next, empty) = GraftColumnBridge.localRelation(batch) match {
      case Some(local) =>
        if (local.data.isEmpty) return false
        val rows = GraftColumnBridge.dataFrame(spark, local)
        (f.delta.fold(rows)(d => deltaRows(table, d, f.schema)
          .filter(notIn(key, local)).unionByName(rows)).coalesce(1), () => false)
      case None =>
        val counted = Observation()
        val observed = batch.observe(counted, count(lit(1)).as("rows"))
        // a shuffle either way, whose partitions adaptive execution
        // sizes: one file for a small delta
        (f.delta.fold(observed.hint("rebalance"))(d =>
          lastWriter(deltaRows(table, d, f.schema), observed, key)),
          () => counted.get("rows") == 0L)
    }
    next.write.mode(SaveMode.Overwrite).parquet(dir.toString)
    if (empty()) {
      fs.delete(dir, true)
      return false
    }
    val files = dataFiles(dir)
    val written = Delta(v, key)
    if (files.map(_.getLen).sum > compactionBound(f)) {
      val rows = deltaRows(table, written, f.schema)
      rewrite(table, f, rows, Some(rows), key, v + 1L, full = false, f.versions, ready)
    } else commit(table, f.copy(version = v, delta = Some(written), sprops = Map.empty), f.versions, ready)
    true
  }

  /** Rows whose `key` none of `local`'s rows carries, null-safe: a
    * null key is kept unless some row has a null key. */
  private def notIn(key: String, local: LocalRelation): Column = {
    val i = local.output.indexWhere(_.name == key)
    val dt = local.output(i).dataType
    val (nulls, keys) = local.data.map(r => if (r.isNullAt(i)) null else r.get(i, dt)).partition(_ == null)
    val carried = if (keys.isEmpty) lit(false)
      else GraftColumnBridge.column(InSet(GraftColumnBridge.expression(col(key)), keys.toSet))
    if (nulls.nonEmpty) col(key).isNotNull && !carried else col(key).isNull || !carried
  }

  /** `old` rows whose key `batch` does not carry (null keys alike),
    * plus `batch`: one shuffle on the key. */
  private def lastWriter(old: DataFrame, batch: DataFrame, key: String): DataFrame =
    old.withColumn("__o", lit(0)).unionByName(batch.withColumn("__o", lit(1)))
      .withColumn("__last", max(col("__o")).over(Window.partitionBy(col(key))))
      .filter(col("__o") === col("__last")).drop("__o", "__last")

  /** Folds the table's delta into its buckets. */
  private def compact(table: String, f: BucketsFile, ready: () => Unit = Ready): Unit = {
    val d = f.delta.get
    val rows = deltaRows(table, d, f.schema)
    rewrite(table, f, rows, Some(rows), d.key, f.version + 1L, full = false, f.versions, ready)
  }

  /** The copy-on-write body, written at version `v` and committed with
    * no delta and `f`'s table properties: base rows whose key `keys`
    * carries (null keys alike) are removed and `rows`, when given, are
    * appended — a MERGE passes its rows as both, a [[delete]] only the
    * keys. Rewrites ONLY the buckets `keys` hash into, or every bucket
    * when `full` (a flat snapshot is re-bucketed; a schema evolution
    * widens every file). The caller has folded any delta into `rows`;
    * `prev` keeps its grace (see [[cleanOld]]). A result with no row
    * left drops the table. Returns false, and commits nothing, when
    * `keys` is empty or, with no rows to add, none of the buckets it
    * hashes into holds data. The commit publishes once `ready` returns.
    */
  private def rewrite(table: String, f: BucketsFile, keys: DataFrame, rows: Option[DataFrame],
      key: String, v: Long, full: Boolean, prev: Set[Long], ready: () => Unit = Ready): Boolean = {
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
    else commit(table, BucketsFile(v, f.nb, next.schema, map, baseBytes ++ written, newBase, None,
      f.tprops, Map.empty), prev, ready)
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
    val f = state(table).getOrElse(return)
    val g = if (f.delta.isEmpty) f else {
      if (keys.isEmpty) return
      compact(table, f)
      state(table).get
    }
    // the pre-delete versions keep their one-commit grace across both
    // commits when a compaction ran first
    rewrite(table, g, keys, None, key, g.version + 1L, full = g.map.contains(-1),
      f.versions ++ g.versions)
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
  }
}

object ParquetStore {
  /** A commit's read handle: its rows (what [[ParquetStore.read]]
    * returns), the identity of the base buckets they are read from, and
    * the delta's rows, if it has one. Two handles with the same `base`
    * differ only in their deltas, and a later delta holds every key of
    * an earlier one: the delta is every row changed since the base,
    * last writer per key. `base` is None for a commit written before
    * the identity was recorded.
    */
  final case class Handle(rows: DataFrame, base: Option[String], delta: Option[DeltaRows])

  /** A delta's rows, committed at `version`; they replace base rows
    * with the same `key`, null keys alike. */
  final case class DeltaRows(version: Long, key: String, rows: DataFrame)

  /** The `ready` of a commit that waits for nothing. */
  private val Ready: () => Unit = () => ()

  /** A fresh base identity, for a commit that writes buckets or a flat
    * snapshot. */
  private def newBase: Option[String] = Some(java.util.UUID.randomUUID().toString)

  /** One `_BUCKETS` file: its header fields, the bucket → snapshot
    * version map, each bucket's bytes and the two property scopes.
    * Bucket -1 marks a flat (unbucketed) snapshot written by
    * overwrite().
    */
  private final case class BucketsFile(version: Long, nb: Int, schema: StructType,
      map: Map[Int, Long], bytes: Map[Int, Long], base: Option[String], delta: Option[Delta],
      tprops: Map[String, String], sprops: Map[String, String]) {
    /** Every version dir this commit reads from. */
    def versions: Set[Long] = map.values.toSet ++ delta.map(_.v)

    def props: Map[String, String] = tprops ++ sprops

    /** The file's text, with a fresh `#token`; the schema less the
      * bucket partition column. */
    def render: String =
      (Seq(s"#version $version", s"#n $nb",
        s"#schema ${StructType(schema.filterNot(_.name == "__bucket")).json}",
        s"#token ${java.util.UUID.randomUUID()}") ++
        base.map(b => s"#base $b") ++
        delta.map(d => s"#delta ${d.v} ${d.key}") ++
        tprops.toSeq.sorted.map { case (k, v) => s"#tprop $k $v" } ++
        sprops.toSeq.sorted.map { case (k, v) => s"#sprop $k $v" } ++
        map.toSeq.sortBy(_._1).map { case (b, v) => s"$b $v ${bytes(b)}" })
        .mkString("\n")
  }

  /** The delta at version `v`, whose rows replace base rows by `key`. */
  private final case class Delta(v: Long, key: String)
}
