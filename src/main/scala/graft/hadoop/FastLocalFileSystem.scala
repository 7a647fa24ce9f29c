package graft.hadoop

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local-filesystem shim for single-JVM runs: the local scheme minus
  * (a) client-side `.crc` sibling files (checksums switched off in
  * [[FastLocalFileSystem.initialize]]) and (b) the
  * fork-a-`chmod`-subprocess-per-path `setPermission` fallback Hadoop
  * uses when its native library is absent (`NativeCodeLoader` warning at
  * startup). A partitioned write of N directories otherwise costs ~2N
  * process forks — profiled at ~70% of the store write path (the
  * round-2 addendum in PLANS_r2.md): a 365-dir date-partitioned load
  * dropped 5.5s → sub-second with this shim.
  *
  * Extends [[LocalFileSystem]] (wrapping the chmod-free raw fs), NOT
  * [[RawLocalFileSystem]] directly: Hadoop's `FileSystem.getLocal`
  * hard-casts the `file:` scheme instance to `LocalFileSystem`, so a
  * raw-derived impl registered as `fs.file.impl` crashes any getLocal
  * caller (SequenceFile utilities, some committers) with a
  * ClassCastException.
  *
  * Register per session with
  * `spark.hadoop.fs.file.impl=graft.hadoop.FastLocalFileSystem`.
  * Local-mode only by construction: cluster deployments resolve
  * `hdfs://`/`s3a://` schemes, where permissions are metadata RPCs, not
  * forks, and data integrity is the store's job — this class is never
  * on that path.
  */
class FastLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem) {
  override def initialize(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** The chmod-free raw layer under [[FastLocalFileSystem]].
  *
  * Every MUTATING operation (create/append via the
  * `createOutputStreamWithMode` funnel, rename, delete, mkdirs,
  * setTimes) first consults [[CrashInjector]] — the crash-schedule
  * fuzzer's seam (`StoreFuzzSpec`). Disarmed (production and every
  * non-fuzz test) the check is one volatile read per METADATA op —
  * nothing on the data byte path.
  */
class FastRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.endsWith(".parquet"))
      FastLocalFileSystem.parquetOpens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): java.io.OutputStream = {
    CrashInjector.onMutation(f)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashInjector.onMutation(src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashInjector.onMutation(p)
    super.delete(p, recursive)
  }

  override def mkdirs(p: Path): Boolean = {
    CrashInjector.onMutation(p)
    super.mkdirs(p)
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    CrashInjector.onMutation(p)
    super.mkdirs(p, permission)
  }

  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = {
    CrashInjector.onMutation(p)
    super.setTimes(p, mtime, atime)
  }
}

/** Deterministic kill-point injection for the store/state crash-schedule
  * fuzzer (VERDICT r18 #5). The store and bucketed-state protocols are
  * rename-step state machines over this filesystem; a "schedule" is a
  * prefix of an operation's mutation sequence. Arming with
  * `failAfter = k` lets the first `k` mutations under `prefix` succeed
  * and fails the (k+1)-th AND EVERY LATER one — modeling a process
  * crash (nothing more gets written, ever; `finally` blocks that try to
  * clean up fail too, exactly as a real kill would leave them), while
  * reads keep working so a post-crash reader/recoverer in the same JVM
  * observes the crashed layout. Counting mode (`failAfter = MaxValue`)
  * measures a schedule's total mutation count first, so the fuzzer can
  * draw kill points from the real step domain. Scoped to a path prefix
  * so Spark's own machinery (warehouse, temp dirs) outside the fuzzed
  * root never trips it.
  */
object CrashInjector {
  @volatile private var armedPrefix: String = null
  private val remaining = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
  private val seen = new java.util.concurrent.atomic.AtomicInteger(0)

  def arm(prefix: String, failAfter: Int): Unit = {
    seen.set(0)
    remaining.set(failAfter)
    armedPrefix = prefix
  }

  def disarm(): Unit = { armedPrefix = null }

  /** Mutations observed under the prefix since the last arm(). */
  def mutationsSeen: Int = seen.get()

  private[hadoop] def onMutation(p: Path): Unit = {
    val pre = armedPrefix
    if (pre != null) {
      val up = p.toUri.getPath
      if (up != null && up.startsWith(pre)) {
        seen.incrementAndGet()
        if (remaining.decrementAndGet() < 0)
          throw new java.io.IOException(
            s"[crash-injector] simulated crash at mutation on $p")
      }
    }
  }
}

object FastLocalFileSystem {
  /** Count of parquet-file opens through this filesystem — an observable
    * proxy for footer reads, used by StoreSpec to assert that
    * sidecar-schema reads build relations with ZERO data-file I/O
    * (where a mergeSchema sweep opens every footer). One branch per
    * open; negligible in production.
    */
  val parquetOpens = new java.util.concurrent.atomic.AtomicLong
}
