package graft.kv

import graft.catalog.ManifestChain
import graft.core.ConditionalCheckFailedException
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import java.nio.charset.StandardCharsets

/** Optimistically-replicated shared state
  * (client/.../state/StateSynchronizer.java:44 over
  * RevisionedStreamClient.java:29 `writeConditionally`): state lives as one
  * revision file per version; an update reads the latest revision, applies
  * a function, and commits the next revision with create-if-absent
  * semantics — the exact CAS-at-offset behavior of a revisioned stream,
  * with the revision number standing in for the stream offset. The
  * revisions are a [[ManifestChain]] of `rev-%012d` records from 0.
  *
  * Driver-side by design: this is coordination metadata (reader-group
  * state, app config), never bulk data.
  */
class StateSynchronizer(rootDir: String, name: String,
                        hadoopConf: Configuration = new Configuration()) {

  private val dir = new Path(new Path(rootDir), s"_state/$name")
  private def fs: FileSystem = dir.getFileSystem(hadoopConf)
  private val chain = new ManifestChain(() => fs, dir, "rev-", "", first = 0L, probeCap = 32)

  /** Revision files are FRAMED (`GSR1 <len> <crc32>\n<payload>`) because
    * exclusive-create + write is not one atomic step on every FS: a
    * concurrent reader can open a just-claimed revision before its bytes
    * land and would otherwise take the truncation as valid state — the
    * silent-lost-update shape a shared counter turns into corruption.
    * The frame lets [[fetch]] detect an in-flight write, which the
    * chain's torn-tip read retries and then falls back from (safe: a
    * stale fetch only makes the next conditional write lose its CAS and
    * retry).
    */
  private val Magic = "GSR1 "

  private def frame(state: String): Array[Byte] = {
    val payload = state.getBytes(StandardCharsets.UTF_8)
    val crc = new java.util.zip.CRC32()
    crc.update(payload)
    (s"$Magic${payload.length} ${crc.getValue}\n").getBytes(StandardCharsets.UTF_8) ++ payload
  }

  /** None = incomplete/in-flight write (caller retries / falls back). */
  private def unframe(bytes: Array[Byte]): Option[String] = {
    val nl = bytes.indexOf('\n'.toByte)
    if (nl < 0) return None
    val header = new String(bytes, 0, nl, StandardCharsets.UTF_8)
    if (!header.startsWith(Magic)) return None
    header.stripPrefix(Magic).split(' ') match {
      case Array(lenS, crcS) =>
        val len = lenS.toLong
        if (bytes.length - nl - 1 != len) None
        else {
          val crc = new java.util.zip.CRC32()
          crc.update(bytes, nl + 1, len.toInt)
          if (crc.getValue != crcS.toLong) None
          else Some(new String(bytes, nl + 1, len.toInt, StandardCharsets.UTF_8))
        }
      case _ => None
    }
  }

  /** Latest (revision, state); revision -1 = no state yet. */
  def fetch(): (Long, Option[String]) =
    chain.readTip(r => unframe(chain.bytes(r)).getOrElse(
      throw new java.io.IOException(s"state $name: revision $r incomplete")))
      .fold((-1L, Option.empty[String])) { case (r, st) => (r, Some(st)) }

  /** writeConditionally (RevisionedStreamClient.java:78): commit `state` as
    * `expectedRevision + 1`; loses → ConditionalCheckFailed.
    */
  def writeConditionally(expectedRevision: Long, state: String): Long = {
    val next = expectedRevision + 1
    if (!chain.create(next, frame(state)))
      throw new ConditionalCheckFailedException(s"state $name: revision $next already written")
    next
  }

  /** Retry loop: fetch → transform → conditional write (the
    * StateSynchronizer.updateState pattern).
    */
  def updateState(f: Option[String] => String, maxRetries: Int = 20): (Long, String) = {
    var attempt = 0
    while (attempt <= maxRetries) {
      val (rev, cur) = fetch()
      val next = f(cur)
      try return (writeConditionally(rev, next), next)
      catch { case _: ConditionalCheckFailedException => attempt += 1 }
    }
    throw new ConditionalCheckFailedException(s"state $name: update lost $maxRetries races")
  }

  /** Compact old revisions (StateSynchronizer.compact analog): the chain's
    * GC keeping the newest `keep` revisions (revision 0 is never retired).
    */
  def compact(keep: Int = 1): Unit = {
    require(keep >= 1, "keep must be >= 1")
    chain.gc() { revs =>
      val floor = revs.lastOption.fold(0L)(_ - keep + 1)
      if (floor <= 1L || floor <= chain.floor()) None else Some((floor, ""))
    }: Unit
  }
}
