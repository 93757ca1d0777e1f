package graft.grid

import graft.{SparkTestBase, XarrayContext}
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Crash-point injection over the Zarr v3 append commit.
  *
  * [[ZarrV3.appendFromRows]] stages the slab as a sibling `.staging-*`
  * tree, deletes the stats manifest, renames every staged chunk into
  * the store ([[GridIO.commitStaged]]; an existing edge chunk is first
  * backed up to `.appendbak`), deletes the staging tree, and only then
  * commits metadata: the coordinate array, the per-array `zarr.json`
  * and the consolidated root. One trial per crash point runs the real
  * append on [[CrashingFileSystem]], which dies after r of the n staged
  * renames or, for r = n, at the first metadata write — then asserts that
  * readers stay on the committed extent and that the retried append
  * lands a tree identical to a one-shot write (stats sidecar aside:
  * the commit drops the manifest before moving any chunk, so after a
  * crash only the retried chunks carry stats).
  */
class CrashRecoverySpec extends SparkTestBase {

  private def rows(key: String, t0: Int, t1: Int) =
    new XarrayContext(spark).scratchDataFrame(key,
      Fixtures.linearGridSlice(t0, t1), Map("t" -> 6),
      Seq("t", "lat", "lon"))

  private def files(root: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  test("append crash at any step: readers isolated, retry lands one-shot") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashingFileSystem].getName)
    val conf = GridIO.driverConf()
    val law = Fixtures.linearGrid
    // every crash point r of both layouts: chunk 5 leaves the committed
    // extent (12) inside a chunk, so the append read-modify-writes the
    // edge chunk through its backup; chunk 6 only adds chunks
    val cases = for {
      axisChunk <- Seq(6, 5)
      n = (24 + axisChunk - 1) / axisChunk - 12 / axisChunk
      r <- 0 to n
    } yield (axisChunk, r)
    for (((axisChunk, r), trial) <- cases.zipWithIndex) {
      val codec = if (trial % 2 == 0) "zstd" else "none"
      val base = Files.createTempDirectory(s"crash_$trial")
      base.toFile.deleteOnExit()
      val local = base.resolve("store").toString
      val root = "crashfs:" + local
      val slabSchema = Fixtures.linearGridSlice(12, 24).schema
      ZarrV3.writeFromRows(rows(s"crash$trial/0", 0, 12),
        Fixtures.linearGridSlice(0, 12).schema, Map("t" -> axisChunk),
        root, codec)

      // ---- crash after r of the n staged renames ----
      CrashingFileSystem.armAfter(r)
      try intercept[IOException] {
        ZarrV3.appendFromRows(rows(s"crash$trial/1", 12, 24), slabSchema,
          root, "t")
      } finally CrashingFileSystem.disarm()
      assert(CrashingFileSystem.stagedRenames.get() == r, s"trial $trial")

      // ---- 1. readers stay on the committed extent ----
      val old = Seq((0, 12), (0, 12), (0, 10))
      val expect = law.readVar("air", old).asInstanceOf[Array[Double]]
      def committed() = {
        val st = ZarrV3.open(root)
        assert(st.schema.dim("t").size == 12, s"trial $trial: extent moved")
        st.readVar("air", old).asInstanceOf[Array[Double]]
      }
      val backedUp = files(local).keys.exists(_.endsWith(".appendbak"))
      // the one window where a committed chunk reads as fill: a crash
      // between an edge chunk's backup and its replace. The next
      // append's staging sweep restores it before anything else runs
      if (!backedUp)
        assert(committed().sameElements(expect), s"trial $trial: values")
      GridIO.sweepStaging(root, conf)
      assert(committed().sameElements(expect), s"trial $trial: healed")

      // ---- 2. the retried append lands the one-shot tree ----
      val appended = ZarrV3.appendFromRows(rows(s"crash$trial/2", 12, 24),
        slabSchema, root, "t")
      val full = Seq((0, 24), (0, 12), (0, 10))
      assert(appended.readVar("air", full).asInstanceOf[Array[Double]]
        .sameElements(law.readVar("air", full)
          .asInstanceOf[Array[Double]]), s"trial $trial: retry mismatch")
      // appended chunks carry stats (pruning survives recovery)
      val last = 23 / axisChunk * axisChunk
      assert(appended.varBounds("air",
        Seq((last, 24 - last), (0, 12), (0, 10))).isDefined,
        s"trial $trial: missing stats on appended chunk")
      val oneShot = base.resolve("oneshot").toString
      val oneShotStore = ZarrV3.writeFromRows(rows(s"crash$trial/3", 0, 24),
        law.schema, Map("t" -> axisChunk), oneShot, codec)
      // chunk payloads and metadata: byte-identical, no orphans
      def data(root: String) =
        files(root).filter(!_._1.endsWith(ZarrGridStore.StatsSidecar))
      val (a, b) = (data(oneShot), data(local))
      assert(a.keySet == b.keySet,
        s"trial $trial: orphan or missing files " +
          s"${(a.keySet -- b.keySet, b.keySet -- a.keySet)}")
      a.keys.foreach(k => assert(a(k) == b(k), s"trial $trial: $k differs"))
      // stats: the crashed commit dropped the manifest first, so the
      // pre-crash chunks' entries are gone (never stale) — what the
      // retry recorded is a subset of the one-shot's
      assert(appended.stats.toSet.subsetOf(oneShotStore.stats.toSet) &&
        appended.sums.toSet.subsetOf(oneShotStore.sums.toSet),
        s"trial $trial: stats disagree with the one-shot tree")
    }
  }
}

/** Local disk under the `crashfs` scheme with an injectable crash:
  * once armed with budget r, the (r+1)-th rename OUT OF a `.staging-*`
  * tree — or, after r such renames, any file creation outside staging
  * (the metadata commit) — throws instead of running.
  */
class CrashingFileSystem extends RawLocalFileSystem {
  import CrashingFileSystem._

  override def getScheme: String = "crashfs"
  override def getUri: URI = URI.create("crashfs:///")

  private def staged(p: Path): Boolean = p.toString.contains(".staging-")

  override def rename(src: Path, dst: Path): Boolean = {
    if (budget.get() >= 0 && staged(src)) {
      if (stagedRenames.get() >= budget.get())
        throw new IOException(s"injected crash renaming $src")
      stagedRenames.incrementAndGet()
    }
    super.rename(src, dst)
  }

  private def checkCreate(f: Path): Unit =
    if (budget.get() >= 0 && !staged(f) &&
        stagedRenames.get() >= budget.get())
      throw new IOException(s"injected crash creating $f")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    checkCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    checkCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object CrashingFileSystem {
  /** Staged renames allowed before the crash; -1 = disarmed. */
  val budget = new java.util.concurrent.atomic.AtomicInteger(-1)
  val stagedRenames = new java.util.concurrent.atomic.AtomicInteger(0)

  def armAfter(r: Int): Unit = { stagedRenames.set(0); budget.set(r) }
  def disarm(): Unit = budget.set(-1)
}
