package graft.catalog

/** Instrumented object-store contract FS: counts point-status probes,
  * listings and opens so specs can assert HOW a read resolved (probe walk
  * vs LIST fallback), not only what it returned. Separate scheme (`cntfs`) keeps
  * the counters isolated from parallel suites using `oscas`.
  */
class CountingOsFs extends graft.storage.LaggedObjectStoreFs {
  override def getScheme: String = "cntfs"
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")
  override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    // RawLocalFileSystem.listStatus materializes each child through
    // getFileStatus — those are part of the ONE listing round trip on a
    // real store, not extra point GETs, so don't double-count them
    if (!CountingOsFs.inList.get()) {
      CountingOsFs.statusCalls.incrementAndGet()
      CountingOsFs.statusPaths.add(f.toUri.getPath)
    }
    super.getFileStatus(f)
  }
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    // openPaths: opens that found a file; openMisses: opens that did not
    val in =
      try super.open(f, bufferSize)
      catch {
        case e: java.io.FileNotFoundException =>
          CountingOsFs.openMisses.add(f.toUri.getPath)
          throw e
      }
    CountingOsFs.openPaths.add(f.toUri.getPath)
    in
  }
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingOsFs.listCalls.incrementAndGet()
    CountingOsFs.listPaths.add(f.toUri.getPath)
    CountingOsFs.inList.set(true)
    try super.listStatus(f) finally CountingOsFs.inList.set(false)
  }
}

object CountingOsFs {
  val statusCalls = new java.util.concurrent.atomic.AtomicLong()
  val listCalls = new java.util.concurrent.atomic.AtomicLong()
  /** The probed, listed, opened and missed paths, in call order (specs drain them). */
  val statusPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val listPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val openPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val openMisses = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val inList: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)
}
