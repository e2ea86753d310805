package graft.sources

import graft.core.StreamCut
import graft.storage.GraftStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** An expected-value source independent of the `graft-stream` scan: a
  * plain parquet read of the manifest's files, filtered to the rows of
  * [from, to) — default head to tail. Streams with chunked large events
  * are out of its scope (it does not reassemble).
  */
object ReferenceRead {
  def events(g: GraftStreams, scope: String, stream: String,
             from: StreamCut = StreamCut.Unbounded,
             to: StreamCut = StreamCut.Unbounded): DataFrame = {
    val meta = g.catalog.getStream(scope, stream)
    require(meta.files.forall(_.maxChunkCount <= 1), "reference read does not reassemble")
    val head = meta.headStreamCut.positions
    val inRange = meta.segments.map(_.segmentId).map { sid =>
      val lo = from.positions.getOrElse(sid, head.getOrElse(sid, 0L))
      val hi = if (to.positions.isEmpty) Long.MaxValue else to.positions.getOrElse(sid, 0L)
      col("segmentId") === sid && col("offset") >= lo && col("offset") < hi
    }.reduce(_ || _)
    g.spark.read.schema(GraftStreams.eventSchema).parquet(meta.files.map(_.path): _*)
      .filter(inRange)
  }
}
