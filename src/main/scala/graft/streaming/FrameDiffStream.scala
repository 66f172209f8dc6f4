package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming scene-change detection — the arrival-time twin of
  * [[graft.pipeline.Multimodal.frameDiffs]] for a live video-ingest
  * shape: decoded frames stream in as (media, frame_no, gray raster)
  * rows, per-media keyed state holds ONLY the last frame seen (one
  * raster per key, checkpointed), and each consecutive successor emits
  * the exact integer |Δ| sum with the same integer half-range flag as
  * batch.
  *
  * Parity with batch holds for frames delivered in frame order per
  * media (the [[graft.operators.AsOfJoin.asOfStreaming]] trade): a
  * batch split at ANY frame boundary still matches, because the
  * crossing pair diffs against the state-held raster. Within a
  * micro-batch frames process in frame_no order. A gap in frame
  * numbers (dropped frame) emits nothing for the missing pair and
  * resynchronizes on the next consecutive pair — the conservative
  * choice for a lossy ingest.
  */
object FrameDiffStream {

  case class FrameRow(media_id: Long, frame_no: Long, width: Long,
    height: Long, gray: Seq[Int])
  case class FrameDiffOut(media_id: Long, frame_no: Long, width: Long,
    height: Long, diff_sum: Long, scene_change: Boolean)
  private[streaming] case class LastFrame(frameNo: Long, gray: Seq[Int])

  def frameDiffs(frames: Dataset[FrameRow]): Dataset[FrameDiffOut] = {
    import frames.sparkSession.implicits._
    ValueFold(frames.groupByKey(_.media_id)) {
      (id, it, prior: Option[LastFrame]) =>
        var last = prior
        val out = List.newBuilder[FrameDiffOut]
        it.toSeq.sortBy(_.frame_no).foreach { f =>
          last.foreach { lf =>
            if (f.frame_no == lf.frameNo + 1 &&
                f.gray.length == lf.gray.length) {
              var d = 0L
              var i = 0
              while (i < f.gray.length) {
                d += math.abs(f.gray(i) - lf.gray(i)); i += 1
              }
              out += FrameDiffOut(id, f.frame_no, f.width, f.height, d,
                2L * d >= 255L * f.width * f.height)
            }
          }
          last = Some(LastFrame(f.frame_no, f.gray))
        }
        (last, out.result().iterator)
    }
  }
}
