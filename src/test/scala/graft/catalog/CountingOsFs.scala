package graft.catalog

/** Instrumented object-store contract FS: counts point-status probes and
  * listings so specs can assert HOW a read resolved (probe walk vs LIST
  * fallback), not only what it returned. Separate scheme (`cntfs`) keeps
  * the counters isolated from parallel suites using `oscas`.
  */
class CountingOsFs extends graft.storage.LaggedObjectStoreFs {
  override def getScheme: String = "cntfs"
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")
  override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    // RawLocalFileSystem.listStatus materializes each child through
    // getFileStatus — those are part of the ONE listing round trip on a
    // real store, not extra point GETs, so don't double-count them
    if (!CountingOsFs.inList.get()) CountingOsFs.statusCalls.incrementAndGet()
    super.getFileStatus(f)
  }
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingOsFs.listCalls.incrementAndGet()
    CountingOsFs.inList.set(true)
    try super.listStatus(f) finally CountingOsFs.inList.set(false)
  }
}

object CountingOsFs {
  val statusCalls = new java.util.concurrent.atomic.AtomicLong()
  val listCalls = new java.util.concurrent.atomic.AtomicLong()
  val inList: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)
}
