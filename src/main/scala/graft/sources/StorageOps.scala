package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage layer mirroring the reference's data-plane file lifecycle:
  *
  *  - partitioned sink with atomic commit: the reference appends per
  *    partition to `.dat` files and renames to `_final` on finalize
  *    (ShufflePartitionUnsafeWriter.java:204-225), with a driver-written
  *    `_SUCCEED` marker (Ors2SparkListener.scala:66-92). Spark's file
  *    committer provides exactly these semantics (task temp dirs →
  *    commit rename → `_SUCCESS` marker), so the sink is a thin,
  *    correctly-configured write.
  *  - retention cleanup: the master deletes app dirs older than the
  *    retention window (ShuffleDataDirClear.java:1-96, 8h default).
  *
  * == Object-store commit semantics (the `file`/`hdfs`/`cfs`/`alluxio`
  * dispatch the reference hides behind one FS interface,
  * FileSystem.java:30-128) ==
  *
  * Everything above leans on RENAME being a cheap atomic metadata
  * operation — true on local FS/HDFS-like stores, FALSE on object stores,
  * where rename is copy+delete (O(bytes), non-atomic). Two code paths
  * close the gap:
  *
  *  - [[objectStoreCommitterConf]]: the session conf that switches
  *    Spark's output committer to a store-native one (S3A "magic"
  *    committer shape: tasks write multipart uploads that MATERIALIZE at
  *    job commit — no rename anywhere, and incomplete tasks leave no
  *    visible garbage). FileOutputCommitter v2 is NOT the answer there:
  *    it renames per-task (still copies on an object store) and makes
  *    partial output visible on failure.
  *  - [[publishVersioned]]/[[loadPublished]]: rename-free publish for
  *    dataset REPLACEMENT (the compact/republish cycle): each publish
  *    writes a fresh immutable version directory, then flips a one-line
  *    `_current` pointer file — a single-object PUT, which object stores
  *    make atomic — so readers see the old or the new version, never a
  *    mix. [[compact]] keeps the rename swap (correct where rename is
  *    atomic); versioned publish is the object-store-safe twin. The four
  *    published indexes (DedupIndex, FingerprintIndex, VectorIndex,
  *    LexIndex) run their whole lifecycle through the same section:
  *    [[publishNext]], [[currentDir]]/[[open]], [[readMeta]],
  *    [[committed]], [[fragmented]], [[pruneVersions]], [[layoutParts]].
  *
  * Scale notes: `partitionBy` creates one directory per key — suitable for
  * low-cardinality partition keys (date, tenant); high-cardinality keys
  * must bucket instead. Cleanup lists only the top-level dirs (one FS call
  * per app dir, as the reference does); actual deletes fan out server-side
  * on HDFS-like stores.
  */
object StorageOps {

  /** Base directory of the SESSION-PUBLISHED artifact roots (the
    * `target/<kind>_index/<fixture>` dirs the artifact-backed queries
    * publish once per session and probe many times). A system property
    * rather than a constant so concurrent TEST JVMs can isolate their
    * publishes (two JVMs overwrite-publishing the same path race each
    * other's readers); every production entry point leaves it unset and
    * gets the unchanged `target` default. */
  def artifactBase: String =
    sys.props.getOrElse("graft.artifact.base", "target")

  /** Session conf for committing through a store-native committer on
    * `scheme://` paths. Two load-bearing keys:
    *
    *  - Hadoop's standard scheme-scoped factory key routes that scheme's
    *    commits to `factory` (default: the S3A factory, whose "magic"
    *    committer completes in-flight multipart uploads at job commit —
    *    zero renames);
    *  - the commit protocol is [[SchemeRoutedCommitProtocol]], which
    *    consults that factory key and falls through to Spark's stock
    *    protocol for every other scheme — so applying this conf changes
    *    nothing for `file://`/`hdfs://` writes (pinned by spec).
    *
    * Exercised end-to-end (not just asserted) by StorageAndAggSpec on a
    * rename-forbidding mock store with [[DirectPutCommitterFactory]]. */
  def objectStoreCommitterConf(scheme: String = "s3a",
      factory: String = "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory")
      : Map[String, String] = Map(
    // route commits for this scheme to the store's committer factory
    s"spark.hadoop.mapreduce.outputcommitter.factory.scheme.$scheme" -> factory,
    // "magic" = tasks write in-flight multipart uploads under __magic/,
    // job commit completes them — zero renames, atomic-enough visibility
    // (S3A-specific knobs; inert for other schemes/factories)
    s"spark.hadoop.fs.$scheme.committer.name" -> "magic",
    s"spark.hadoop.fs.$scheme.committer.magic.enabled" -> "true",
    // the protocol that actually reads the factory key per destination
    "spark.sql.sources.commitProtocolClass" ->
      "graft.sources.SchemeRoutedCommitProtocol")

  /** Apply [[objectStoreCommitterConf]] to a session (idempotent). The
    * `spark.hadoop.*` keys must reach the Hadoop conf the write job
    * serializes, so they are set on `sparkContext.hadoopConfiguration`
    * (runtime `spark.conf` mutation does not reliably reach an active
    * session's Hadoop conf). */
  def configureObjectStoreCommitter(spark: SparkSession, scheme: String = "s3a",
      factory: String = "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory")
      : Unit =
    objectStoreCommitterConf(scheme, factory).foreach {
      case (k, v) if k.startsWith("spark.hadoop.") =>
        spark.sparkContext.hadoopConfiguration.set(
          k.stripPrefix("spark.hadoop."), v)
      case (k, v) => spark.conf.set(k, v)
    }

  /** Capability string a custom `FileSystem` can advertise (via
    * `hasPathCapability`) to declare object-store semantics: rename is
    * copy+delete (or absent), but a single-object overwrite PUT is
    * atomic. Known object-store schemes are recognized without it. */
  val AtomicPutOverwriteCapability = "graft.fs.capability.atomic-put-overwrite"

  /** Schemes whose stores overwrite a single object atomically but make
    * rename copy+delete — the dispatch the reference centralizes in its
    * FS adapter (FileSystem.java:30-128), extended to the cloud stores. */
  val objectStoreSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "wasb", "wasbs", "abfs", "abfss")

  /** True iff `p` lives on an object store (scheme match or advertised
    * [[AtomicPutOverwriteCapability]]). */
  def isObjectStore(fs: FileSystem, p: Path): Boolean =
    objectStoreSchemes.contains(Option(fs.getUri.getScheme).getOrElse("")) ||
      fs.hasPathCapability(p, AtomicPutOverwriteCapability)

  /** Write a DataFrame as a partitioned parquet dataset with atomic commit
    * + `_SUCCESS` marker (the reference's finalize + `_SUCCEED`). */
  def writePartitioned(df: DataFrame, outDir: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outDir)

  /** True iff the dataset at `dir` was committed (marker present) —
    * the reader-side wait condition (ShuffleDataExecutor.java:119-138). */
  def isCommitted(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Small-file compaction: rewrite the parquet dataset at `dir` so data
    * files approach `targetBytes` each — the table-layout counterpart of
    * the problem the reference engine solves at the shuffle layer (many
    * tiny per-map blocks merged into partition-grouped sequential files;
    * that design goal is the whole point of its worker data plane).
    * Sizing uses the dataset's actual on-disk bytes from an FS listing —
    * no data scan; then ONE round-robin repartition and an atomic-commit
    * rewrite via a temp dir + rename (reading and overwriting the same
    * path in one job would clobber its own input). The temp-dir swap
    * mirrors the reference's finalize-rename; a production lake would
    * flip a manifest/view instead for readers-during-compaction.
    * Returns (dataFilesBefore, dataFilesAfter). */
  def compact(spark: SparkSession, dir: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new Path(dir)
    val fs: FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles = fs.listStatus(p)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val before = dataFiles
    val totalBytes = before.map(_.getLen).sum
    val parts = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val tmp = new Path(dir + "__compact_tmp")
    spark.read.parquet(dir).repartition(parts)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(p, true)
    fs.rename(tmp, p)
    (before.length, dataFiles.length)
  }

  /** Range-sorted layout writer: range-partition on `key` then sort
    * within each partition, so every output file covers a DISJOINT key
    * range. This is the table-layout lever for range-predicated scans at
    * 100 TB: parquet footers carry per-file (and per-row-group) min/max
    * for the sort key, and a `key BETWEEN a AND b` scan prunes every
    * file whose range misses — the same read-amplification cut the
    * reference engineers by grouping partition data into sequential
    * files (its workers exist to make one reducer's reads contiguous;
    * a sorted lake layout makes one RANGE's reads contiguous).
    * Deterministic caveat stated: repartitionByRange samples to pick
    * bounds, so file BOUNDARIES may vary run to run — the disjointness
    * contract (what pruning relies on) holds regardless and is what
    * StorageAndAggSpec pins. */
  def writeRangeSorted(df: DataFrame, outDir: String, key: String,
      partitions: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(partitions, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(outDir)
  }

  // ---- versioned-artifact lifecycle ---------------------------------
  // Every versioned artifact (the four published indexes and
  // [[publishVersioned]] tables) is immutable `v<n>` directories plus a
  // one-line `_current` pointer. This section is the only code that
  // resolves, publishes, commit-checks, fragmentation-checks, prunes and
  // lays out those versions, and the only reader of their one-row `meta`.

  /** Rename-free dataset publish for object stores: write an immutable
    * `v<n>` version directory under `tableDir`, then flip the one-line
    * `_current` pointer ([[publishNext]]). Readers resolve through
    * [[loadPublished]] and observe the previous or the new version in
    * full, never a mix. Returns the published version number. */
  def publishVersioned(df: DataFrame, tableDir: String): Int =
    publishNext(df.sparkSession, tableDir) { dir =>
      df.write.mode("errorifexists").parquet(dir)
      dir.substring(dir.lastIndexOf("/v") + 2).toInt
    }

  /** Publish the next version of the artifact at `root`: `write` fills
    * the fresh `<root>/v<n>` directory, then the pointer flips to it. A
    * crash inside `write` leaves a dangling version directory (skipped
    * by the next publish, deleted by [[pruneVersions]]) and never moves
    * the pointer. Returns what `write` returned. */
  def publishNext[A](spark: SparkSession, root: String)(
      write: String => A): A = {
    val v = s"v${nextVersion(spark, root)}"
    val out = write(s"$root/$v")
    flipPointer(spark, root, v)
    out
  }

  /** Next unused version number under a versioned table/index dir —
    * max over every `v<n>` directory, committed or torn. */
  private def nextVersion(spark: SparkSession, tableDir: String): Int =
    versionNumbers(spark, new Path(tableDir)).maxOption.getOrElse(0) + 1

  private def versionNumbers(spark: SparkSession, root: Path): Seq[Int] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vrx = """v(\d+)""".r
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap(_.getPath.getName match {
      case vrx(n) => Some(n.toInt)
      case _ => None
    })
  }

  /** Prefix of the temp file a POSIX pointer flip stages and renames. */
  private val PointerTmpPrefix = "._current_tmp_"

  /** Atomically point `tableDir/_current` at `version`, store-aware on
    * both branches. Called by [[publishNext]] only. */
  private[graft] def flipPointer(spark: SparkSession, tableDir: String,
      version: String): Unit = {
    val root = new Path(tableDir)
    val fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(root, "_current")
    if (isObjectStore(fs, root)) {
      // Object stores overwrite the pointer in ONE atomic PUT — readers
      // see the whole old pointer or the whole new one, never a torn
      // write. No rename anywhere on this branch (rename there is
      // copy+delete, or forbidden outright).
      val out = fs.create(cur, true)
      out.write(version.getBytes("UTF-8"))
      out.close()
    } else {
      // POSIX/HDFS: create-then-write is NOT atomic for readers (a
      // concurrent open sees a zero-length pointer), but rename is — so
      // stage to a temp name and rename. FileSystem rename refuses an
      // existing destination, hence delete+rename: the worst crash
      // window leaves NO pointer (readers fail loudly; every version
      // directory stays intact) — never a torn or mixed dataset.
      val tmp = new Path(root, PointerTmpPrefix + version)
      val out = fs.create(tmp, true)
      out.write(version.getBytes("UTF-8"))
      out.close()
      if (fs.exists(cur)) fs.delete(cur, false)
      fs.rename(tmp, cur)
    }
  }

  /** Object-store-safe compaction for a VERSIONED table
    * ([[publishVersioned]] layout): read the active version, rewrite it
    * sized toward `targetBytes` per file as the NEXT immutable version,
    * and flip the pointer — a single PUT on object stores. This is the
    * manifest-flip compaction lakehouse formats use where [[compact]]'s
    * in-place temp-dir swap is only correct on stores with atomic rename:
    * no data file is ever renamed, a reader mid-scan on the old version
    * keeps a fully consistent dataset, and the old version stays
    * readable until [[pruneVersions]]. Returns
    * (dataFilesBefore, dataFilesAfter, newVersion). */
  def compactVersioned(spark: SparkSession, tableDir: String,
      targetBytes: Long): (Int, Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val curDir = new Path(currentDir(spark, tableDir))
    val fs = curDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: Path) = fs.listStatus(p)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val before = dataFiles(curDir)
    val totalBytes = before.map(_.getLen).sum
    val parts = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val next = publishVersioned(
      spark.read.parquet(curDir.toString).repartition(parts), tableDir)
    (before.length, dataFiles(new Path(s"$tableDir/v$next")).length, next)
  }

  /** Resolve the `_current` pointer and load the active version. */
  def loadPublished(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(currentDir(spark, tableDir))

  /** The active version name (e.g. "v3"), if any publish completed. */
  def currentVersion(spark: SparkSession, tableDir: String): Option[String] = {
    val p = new Path(tableDir, "_current")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), "UTF-8").trim)
      } finally in.close()
    }
  }

  /** The active version's directory under a versioned `root` — THE
    * version resolver: `_current` is read once, and a root without a
    * pointer fails with an error naming it. */
  def currentDir(spark: SparkSession, root: String): String =
    s"$root/${currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no published version at $root"))}"

  /** One resolved version of a versioned artifact: the directory the
    * pointer named when [[open]] ran, and that version's meta, read
    * once. Every read handed this pair sees the same version, whatever
    * a concurrent publish flips meanwhile. */
  final case class Version[M](dir: String, meta: M)

  /** Resolve `root` once and read its active version's meta once. */
  def open[M](spark: SparkSession, root: String)(
      meta: String => M): Version[M] = {
    val dir = currentDir(spark, root)
    Version(dir, meta(dir))
  }

  /** True iff every named dataset under `dir` committed — an
    * artifact's reader-side publish gate. */
  def committed(spark: SparkSession, dir: String, datasets: String*): Boolean =
    datasets.forall(ds => isCommitted(spark, s"$dir/$ds"))

  /** True iff any partition directory of the dataset at `path` holds
    * more than one data file — the one-file-per-partition layout
    * invariant every index writer keeps, checked by one FS listing (no
    * data read) before a compaction republish. */
  def fragmented(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      st.isDirectory && st.getPath.getName.contains("=") &&
        fs.listStatus(st.getPath).count(f => f.isFile &&
          !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".")) > 1
    }
  }

  /** Drop all but the newest `keep` version directories, and any pointer
    * temp file a crashed [[flipPointer]] left behind — the retention
    * pass of the publish cycle. The active version and `_current` itself
    * are never deleted. Returns the deleted version names. */
  def pruneVersions(spark: SparkSession, tableDir: String, keep: Int): Seq[String] = {
    require(keep >= 1, "keep must be >= 1")
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root)
      .filter(_.getPath.getName.startsWith(PointerTmpPrefix))
      .foreach(st => fs.delete(st.getPath, false))
    val active = currentVersion(spark, tableDir)
    versionNumbers(spark, root).sorted(Ordering.Int.reverse)
      .drop(keep).map(n => s"v$n")
      .filterNot(active.contains)
      .filter(v => fs.delete(new Path(root, v), true))
  }

  /** Hash-partition count of an index dataset holding `n` rows: floor 64
    * (directory listings stay trivial, a small probe still gets a ~64×
    * read cut), one more partition per `rowsPerPart` rows, capped at 64k
    * directories. Layout-only — a republish at a different count changes
    * no key. Each index states its own `RowsPerPart`. */
  def layoutParts(n: Long, rowsPerPart: Long): Int =
    math.max(64L, math.min(1L << 16, n / rowsPerPart + 1)).toInt

  /** The hive partition value of a row: `pmod(xxhash64(cols), n)` — a
    * pure function of the key columns, so a probe derives the partitions
    * it must read from its own keys. */
  def partOf(n: Int,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    pmod(xxhash64(cols: _*), lit(n.toLong))
  }

  /** An artifact's one-row `meta` dataset as read by [[readMeta]].
    * `apply(field)` is a field every generation of the artifact records
    * (an error naming the path when absent); `apply(field, legacy)` is
    * one an older writer may not have recorded, read as `legacy` then. */
  final class MetaRow private[StorageOps] (path: String,
      row: Option[org.apache.spark.sql.Row]) {
    private def has(field: String) =
      row.exists(_.schema.fieldNames.contains(field))
    def apply[T](field: String): T =
      if (has(field)) row.get.getAs[T](field)
      else throw new IllegalStateException(row.fold(
        s"no meta dataset at $path")(_ => s"meta at $path records no `$field`"))
    def apply[T](field: String, legacy: => T): T =
      if (has(field)) row.get.getAs[T](field) else legacy
  }

  /** Read `<dir>/meta` ONCE. A dataset holding anything but exactly one
    * row (a torn or foreign write) fails with an error naming the path;
    * an absent dataset reads as a row with no fields, so required
    * fields fail by name and legacy ones take their defaults. The row is
    * decoded on the driver from its parquet file(s): a Spark read of a
    * one-row dataset costs a schema-inference job and a collect job, the
    * fixed cost of every probe that opens an index. */
  def readMeta(spark: SparkSession, dir: String): MetaRow = {
    val p = new Path(dir, "meta")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val row =
      if (!fs.exists(p)) None
      else fs.listStatus(p).filter(f => f.isFile &&
          !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .flatMap(f => metaRows(f.getPath, conf)) match {
        case Array(r) => Some(r)
        case rows => throw new IllegalStateException(
          s"meta at $p holds ${rows.length} rows, expected exactly one " +
            "(torn or foreign write)")
      }
    new MetaRow(p.toString, row)
  }

  /** The rows of one meta parquet file, decoded on the driver. Meta
    * fields are Int, Long or Boolean scalars; they decode to the JVM
    * types a Spark read yields, an unset field to null. */
  private def metaRows(file: Path,
      conf: org.apache.hadoop.conf.Configuration): Seq[org.apache.spark.sql.Row] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.types._
    val reader = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(), file)
      .withConf(conf).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      val t = g.getType
      val fields = (0 until t.getFieldCount).map { i =>
        val (dt, get): (DataType, () => Any) =
          t.getType(i).asPrimitiveType.getPrimitiveTypeName match {
            case INT32 => (IntegerType, () => g.getInteger(i, 0))
            case INT64 => (LongType, () => g.getLong(i, 0))
            case BOOLEAN => (BooleanType, () => g.getBoolean(i, 0))
            case other => throw new IllegalStateException(
              s"meta at $file: field ${t.getFieldName(i)} is $other, " +
                "not an Int, Long or Boolean")
          }
        (StructField(t.getFieldName(i), dt),
          if (g.getFieldRepetitionCount(i) == 0) null else get())
      }
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        fields.map(_._2).toArray, StructType(fields.map(_._1))): org.apache.spark.sql.Row
    }.toList
    finally reader.close()
  }

  /** Write `meta` (a case class whose field names are the stored column
    * names) as the one-row `<dir>/meta` dataset. */
  def writeMeta[M <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, dir: String, meta: M): Unit =
    spark.createDataFrame(Seq(meta)).write.mode("overwrite")
      .parquet(s"$dir/meta")

  /** Z-order (Morton) value of two NON-NEGATIVE integral columns:
    * interleaves the low `bits` bits of each (a in even positions, b in
    * odd), as a plain arithmetic Column tree — 2·bits shift/mask/add
    * terms, all inside whole-stage codegen, no UDF. Disjoint bit
    * positions make the sum an OR. */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int = 21): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftrightunsigned}
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftrightunsigned(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftrightunsigned(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)
  }

  /** Z-order layout writer — the two-dimensional counterpart of
    * [[writeRangeSorted]]: range-partition and sort on the interleaved
    * [[zValue]], so every output file covers a compact RECTANGLE of the
    * (keyA, keyB) plane instead of a thin slab of keyA. Parquet footers
    * then carry tight per-file min/max for BOTH columns, and a scan
    * filtered on either one (or both) prunes most files — the layout
    * lever for corpora queried along two axes (e.g. source × date, or
    * tenant × time) where a single sort key leaves the second axis
    * unprunable. Trade-off stated: per-axis pruning is ~sqrt(files)
    * coarser than a dedicated single-key sort on that axis; z-order buys
    * BOUNDED pruning on both. Same determinism caveat as
    * writeRangeSorted: range boundaries come from sampling, the per-file
    * rectangle property is what the spec pins. */
  def writeZOrdered(df: DataFrame, outDir: String, keyA: String, keyB: String,
      partitions: Int, bits: Int = 21): Unit = {
    import org.apache.spark.sql.functions.col
    val z = s"__graft_z_${java.util.UUID.randomUUID().toString.take(8)}"
    df.withColumn(z, zValue(col(keyA), col(keyB), bits))
      .repartitionByRange(partitions, col(z))
      .sortWithinPartitions(z)
      .drop(z)
      .write.mode("overwrite").parquet(outDir)
  }

  /** Filter a hive-partitioned dataset to an already-collected
    * partition-value set, as a STATIC pruning filter: the literals are
    * rebased to the scan column's inferred type (hive partition dirs
    * read back as IntegerType) so the `isin` stays a partition filter —
    * a cast around the attribute would block pruning. Returns the scan
    * unchanged when every partition is touched (the filter would prune
    * nothing and only add plan noise). Shared by both published-index
    * merge/probe paths (VectorIndex, DedupIndex). */
  def prunedByVals(idx: org.apache.spark.sql.DataFrame, partCol: String,
      parts: Array[Long], nParts: Int): org.apache.spark.sql.DataFrame = {
    if (parts.length < nParts) {
      val lits: Seq[Any] = idx.schema(partCol).dataType match {
        case org.apache.spark.sql.types.IntegerType => parts.toSeq.map(_.toInt)
        case _ => parts.toSeq
      }
      idx.filter(org.apache.spark.sql.functions.col(partCol)
        .isin(lits: _*))
    } else idx
  }

  /** The partitions `vals` (of `nParts`) of the hive-partitioned dataset
    * at `path`, read with its known `schema` (data columns and the
    * partition column `partCol`) — the small-probe read. A plain read
    * costs a schema-inference job and, past the session's
    * parallel-listing threshold of partition directories, a listing
    * job; here the named directories that exist are handed to the
    * reader in groups at that threshold (listed on the driver) and the
    * groups' scans unioned, so the caller's action is the read's only
    * job. The static `isin` ([[prunedByVals]]) keeps a PartitionFilter
    * on every scan. */
  def readPartitions(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType, partCol: String,
      vals: Seq[Long], nParts: Int): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val want = vals.map(v => s"$partCol=$v").toSet
    val dirs = fs.listStatus(root)
      .filter(st => st.isDirectory && want(st.getPath.getName))
      .map(_.getPath.toString).sorted.toSeq
    val threshold = spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val scan =
      if (dirs.isEmpty) spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else dirs.grouped(math.max(1, threshold)).map(g =>
          spark.read.schema(schema).option("basePath", path).parquet(g: _*))
        .reduce(_ union _)
    prunedByVals(scan, partCol, vals.distinct.toArray, nParts)
  }

  /** Hard-copy every `partCol=<v>` partition directory of `prevPath`
    * whose value is NOT dirty into `newPath` — the file-level append
    * for a partition-level index merge's unreplaced majority (one file
    * per directory by the writers' layout invariant; no decode, no
    * task). A directory whose suffix does not parse as a partition
    * value (a foreign dir sharing the `partCol=` prefix) is skipped,
    * not crashed on. The copies fan out across a driver-side thread
    * pool sized to the host — at the 64k-directory layout ceiling the
    * wall-clock is bounded by store throughput, not 64k serial
    * round-trips (each copy is an independent dir pair; Hadoop
    * FileSystem instances are thread-safe for concurrent use). A real
    * deployment on an object store would instead issue server-side
    * COPY requests — same fan-out shape, no byte movement through the
    * driver. Returns how many were copied. Shared by both
    * published-index merge paths. */
  def copyCleanParts(spark: SparkSession, prevPath: String,
      newPath: String, partCol: String, dirty: Set[Long]): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(prevPath)
    val fs = src.getFileSystem(conf)
    val prefix = partCol + "="
    val clean = fs.listStatus(src)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .filter(st => st.getPath.getName.stripPrefix(prefix).toLongOption
        .exists(v => !dirty.contains(v)))
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    java.util.Arrays.stream(clean).parallel().forEach { st =>
      try org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new Path(newPath, st.getPath.getName), false, conf)
      catch { case t: Throwable => failure.compareAndSet(null, t) }
    }
    Option(failure.get()).foreach(throw _)
    clean.length
  }

  /** Delete child dirs of `root` whose mtime is older than retentionMs
    * (ShuffleDataDirClear.java semantics); returns the deleted paths. */
  def cleanExpired(spark: SparkSession, root: String,
      retentionMs: Long, nowMs: Long): Seq[String] = {
    val rootPath = new Path(root)
    val fs: FileSystem =
      rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    val expired = fs.listStatus(rootPath)
      .filter(_.isDirectory) // contract: child DIRS only (manifests survive)
      .filter(st => nowMs - st.getModificationTime > retentionMs)
    // report only what was actually deleted (delete can fail/race)
    expired.filter(st => fs.delete(st.getPath, true))
      .map(_.getPath.toString).toSeq
  }
}
