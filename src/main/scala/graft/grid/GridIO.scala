package graft.grid

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.{ObjectInputStream, ObjectOutputStream}

/** Hadoop `Configuration` is not `java.io.Serializable`; this wrapper makes
  * it closure-shippable (the same trick Spark uses internally) so executors
  * resolve the SAME FileSystem the driver planned against — credentials,
  * `spark.hadoop.*` overrides and all.
  */
final class SerializableHadoopConf(@transient var value: Configuration)
  extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** All Zarr store / GridWriter byte I/O goes through the Hadoop
  * FileSystem API, so one code path serves local disk (`file:` or bare
  * paths), HDFS, S3A and GCS — the storage reality of a 100 TB deployment
  * (the reference gets this for free from fsspec inside Zarr;
  * reference xarray_sql/reader.py:192-337 reads through the Zarr store
  * abstraction for the same reason).
  *
  * The active session's `hadoopConfiguration` is used when present (it
  * carries `spark.hadoop.*` settings such as object-store credentials);
  * executor-side calls that were not handed a shipped conf fall back to
  * classpath defaults (core-site.xml), which is the standard connector
  * behavior.
  */
object GridIO {

  /** Test/ops instrumentation: exact I/O call counts (works in local
    * mode where everything shares the JVM). Each counter is one
    * object-store round trip at deployment scale, which is why e.g. the
    * consolidated-metadata open pins these numbers in its spec.
    */
  object Counters {
    val reads = new java.util.concurrent.atomic.LongAdder
    val rangeReads = new java.util.concurrent.atomic.LongAdder
    val lists = new java.util.concurrent.atomic.LongAdder
    val existChecks = new java.util.concurrent.atomic.LongAdder
    /** Payload bytes fetched by [[readAllBytes]] + [[readRange]] — the
      * number that proves a pruned sharded scan fetched k inner chunks'
      * bytes, not whole shard files.
      */
    val bytesRead = new java.util.concurrent.atomic.LongAdder
    def reset(): Unit = {
      reads.reset(); rangeReads.reset(); lists.reset(); existChecks.reset()
      bytesRead.reset()
    }
  }

  /** Driver-side: the session's Hadoop conf if a session is active. */
  def driverConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def shippable(): SerializableHadoopConf =
    new SerializableHadoopConf(driverConf())

  /** Unwrap local ChecksumFileSystem: it writes `.crc` sidecars that
    * pollute the store layout. HDFS/S3A checksum natively and are not
    * ChecksumFileSystems, so they pass through untouched.
    */
  private def fs(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  def readAllBytes(path: String, conf: Configuration): Array[Byte] = {
    Counters.reads.increment()
    val p = new Path(path)
    val f = fs(p, conf)
    val len = f.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"chunk file too large: $path ($len bytes)")
    Counters.bytesRead.add(len)
    val buf = new Array[Byte](len.toInt)
    val in = f.open(p)
    try in.readFully(0, buf)
    finally in.close()
    buf
  }

  /** (length, modification time) of a file, None when it does not exist —
    * one metadata round trip (a HEAD on object stores). The pair also
    * serves as a cheap content-version key: any rewrite changes it.
    */
  def statusOf(path: String, conf: Configuration): Option[(Long, Long)] = {
    Counters.existChecks.increment()
    val p = new Path(path)
    try {
      val st = fs(p, conf).getFileStatus(p)
      Some((st.getLen, st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Ranged read of `[offset, offset+length)` — a range GET on object
    * stores. The primitive that makes sub-file granularity real: a
    * sharded-Zarr scan fetches the shard index and then only the inner
    * chunks it needs, never the whole (possibly GB-sized) shard file.
    */
  def readRange(path: String, offset: Long, length: Int,
      conf: Configuration): Array[Byte] = {
    Counters.rangeReads.increment()
    Counters.bytesRead.add(length)
    val p = new Path(path)
    val buf = new Array[Byte](length)
    val in = fs(p, conf).open(p)
    try in.readFully(offset, buf)
    finally in.close()
    buf
  }

  def write(path: String, bytes: Array[Byte], conf: Configuration): Unit = {
    val p = new Path(path)
    val out = fs(p, conf).create(p, true)
    try out.write(bytes)
    finally out.close()
  }

  def writeString(path: String, s: String, conf: Configuration): Unit =
    write(path, s.getBytes(java.nio.charset.StandardCharsets.UTF_8), conf)

  def readLines(path: String, conf: Configuration): Seq[String] =
    new String(readAllBytes(path, conf),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq

  def mkdirs(path: String, conf: Configuration): Unit = {
    val p = new Path(path)
    fs(p, conf).mkdirs(p)
  }

  /** Recursive delete; no-op when the path does not exist. */
  def delete(path: String, conf: Configuration): Unit = {
    val p = new Path(path)
    fs(p, conf).delete(p, true)
    ()
  }

  def exists(path: String, conf: Configuration): Boolean = {
    Counters.existChecks.increment()
    val p = new Path(path)
    fs(p, conf).exists(p)
  }

  /** File names directly under `path` (empty if it does not exist). */
  def listNames(path: String, conf: Configuration): Seq[String] = {
    Counters.lists.increment()
    val p = new Path(path)
    val f = fs(p, conf)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Delete every `.staging-*` sibling of a store root (residue of
    * crashed appends; see ZarrGridStore.appendFromRows' single-writer
    * contract — no live writer owns one when this runs). Before deleting, HEAL
    * the replace phase a crashed append may have left half-done: the
    * staging tree's `.replace-manifest` lists the store files it was
    * about to replace through [[replaceWithBackup]]; any destination
    * whose `.appendbak` survives is restored (crash hit between backup
    * and replace — the store would otherwise silently serve fill for
    * that chunk) or has its backup dropped (crash hit after the
    * replace landed). Returns deleted staging names.
    */
  def sweepStaging(root: String, conf: Configuration): Seq[String] = {
    val cleanRoot = new Path(root.stripSuffix("/"))
    val parent = cleanRoot.getParent
    if (parent == null) Seq.empty
    else {
      val prefix = cleanRoot.getName + ".staging-"
      listNames(parent.toString, conf).filter(_.startsWith(prefix))
        .map { n =>
          val manifest = s"$parent/$n/.replace-manifest"
          if (exists(manifest, conf))
            readLines(manifest, conf).filter(_.nonEmpty)
              .foreach(healReplace(_, conf))
          delete(s"$parent/$n", conf); n
        }
    }
  }

  /** Replace `dst` with `src` KEEPING a transient backup: an existing
    * `dst` renames to `dst.appendbak`, `src` renames in, the backup
    * deletes. A plain delete+rename would let a crash between the two
    * steps silently LOSE the old chunk (an absent zarr chunk reads as
    * fill, not as an error); with the backup, the loss window heals at
    * the next append's [[sweepStaging]]. Callers record `dst` in their
    * staging tree's `.replace-manifest` BEFORE the replace phase.
    */
  def replaceWithBackup(src: String, dst: String,
      conf: Configuration): Unit = {
    val d = new Path(dst)
    val f = fs(d, conf)
    val bak = new Path(dst + ".appendbak")
    if (f.exists(d)) {
      f.delete(bak, false) // residue of an even earlier crash
      require(f.rename(d, bak), s"backup rename failed: $dst")
    }
    rename(src, dst, conf)
    f.delete(bak, false)
    ()
  }

  /** Commit-protocol selection for [[commitStaged]]. On filesystems
    * where rename is an atomic metadata op (local, HDFS, viewfs, ABFS)
    * staged files MOVE in via the rename+backup protocol. On object
    * stores whose FileSystem "rename" is an emulated COPY+DELETE —
    * S3A-style connectors — rename is both non-atomic and O(bytes), so
    * the protocol flips to direct overwrite PUTs: there the atomic
    * primitive is the whole-object write itself (the object is
    * replaced at close() or not at all; a crashed PUT leaves the OLD
    * object). Auto-detected from the destination scheme; force with
    * `graft.zarr.commit` = `rename` | `put` in the Hadoop conf.
    */
  private[grid] val CommitProtocolKey = "graft.zarr.commit"

  /** Schemes whose Hadoop connectors emulate rename as copy+delete.
    * wasb/wasbs (classic Azure blob) belong here; abfs/abfss (ADLS
    * Gen2 with a hierarchical namespace) rename atomically and stay on
    * the rename protocol — an HNS-less abfs account should set
    * `graft.zarr.commit=put` explicitly.
    */
  private val copyRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "cosn", "swift", "obs",
      "wasb", "wasbs")

  private[grid] def usePutCommit(path: String, conf: Configuration): Boolean =
    conf.get(CommitProtocolKey, "auto") match {
      case "rename" => false
      case "put" => true
      case "auto" =>
        val scheme = Option(new Path(path).toUri.getScheme)
          .orElse(Option(FileSystem.getDefaultUri(conf).getScheme))
          .getOrElse("file")
        copyRenameSchemes.contains(scheme.toLowerCase)
      case other => throw new IllegalArgumentException(
        s"$CommitProtocolKey=$other (auto | rename | put)")
    }

  /** Stream `src` over `dst` through `create(overwrite)` — on an object
    * store this is one PUT that atomically replaces the whole object at
    * close. The commit primitive of the put protocol.
    */
  private def copyOverwrite(src: String, dst: String,
      conf: Configuration): Unit = {
    val sp = new Path(src)
    val dp = new Path(dst)
    val in = fs(sp, conf).open(sp)
    try {
      val out = fs(dp, conf).create(dp, true)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 16, false)
      finally out.close()
    } finally in.close()
  }

  /** Commit staged append files into the store — the shared protocol
    * of all three append paths. `pairs` are (absolute src, absolute
    * dst); `mkdirParents` creates nested destination dirs (the v3 `c/`
    * layout).
    *
    * Rename mode (atomic-rename filesystems): EVERY destination is
    * recorded in the staging tree's `.replace-manifest` first, then
    * each staged file moves in via [[replaceWithBackup]]. Existing
    * destinations — a merged edge chunk, or orphan chunks landed by a
    * CRASHED earlier commit of this same logical append — are replaced
    * safely (plain rename would refuse an existing destination on HDFS
    * and make retries fail forever), and a crash mid-commit heals at
    * the next [[sweepStaging]]. Cost: one existence HEAD per staged
    * file — the price of retry-idempotent commits.
    *
    * Put mode (copy-rename object stores, [[usePutCommit]]): each
    * staged file STREAMS over its destination in one atomic
    * whole-object PUT. No backups and no manifest — every crash window
    * leaves either the old or the new object, never a torn one, and a
    * retried append re-puts byte-identical content. The staged source
    * files stay until the caller deletes the staging tree, so a crash
    * mid-commit is retried from intact inputs.
    */
  def commitStaged(staging: String, pairs: Seq[(String, String)],
      mkdirParents: Boolean, conf: Configuration): Unit = {
    if (pairs.isEmpty) return
    if (usePutCommit(pairs.head._2, conf)) {
      // Hadoop's FileSystem API has no portable server-side copy, and
      // a single-object S3A rename (which WOULD copy server-side)
      // refuses an existing destination — so the commit primitive
      // stays the streamed overwrite PUT. But PUTs to distinct
      // objects are independent and latency-bound, so the loop runs
      // on a bounded thread pool: a large slab commit pays
      // ~ceil(n/16) round-trip latencies instead of the serial sum.
      if (mkdirParents)
        pairs.foreach(p =>
          mkdirs(p._2.substring(0, p._2.lastIndexOf('/')), conf))
      val par = math.min(16, pairs.size)
      if (par <= 1)
        pairs.foreach { case (src, dst) => copyOverwrite(src, dst, conf) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
        try {
          val futs = pairs.map { case (src, dst) =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = copyOverwrite(src, dst, conf)
            })
          }
          // propagate the FIRST failure with its original type (the
          // append paths key their crash-retry contract on it)
          try futs.foreach(_.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        } finally pool.shutdownNow()
      }
    } else {
      writeString(s"$staging/.replace-manifest",
        pairs.map(_._2).mkString("\n"), conf)
      pairs.foreach { case (src, dst) =>
        if (mkdirParents)
          mkdirs(dst.substring(0, dst.lastIndexOf('/')), conf)
        replaceWithBackup(src, dst, conf)
      }
    }
  }

  /** Idempotent single-file heal of a crashed [[replaceWithBackup]]. */
  private def healReplace(dst: String, conf: Configuration): Unit = {
    val d = new Path(dst)
    val f = fs(d, conf)
    val bak = new Path(dst + ".appendbak")
    if (f.exists(bak)) {
      if (f.exists(d)) f.delete(bak, false)
      else require(f.rename(bak, d), s"recovery rename failed: $bak")
      ()
    }
  }

  /** Same-filesystem rename (a metadata op on HDFS/local). */
  def rename(src: String, dst: String, conf: Configuration): Unit = {
    val s = new Path(src)
    require(fs(s, conf).rename(s, new Path(dst)), s"rename failed: $src -> $dst")
  }

}
