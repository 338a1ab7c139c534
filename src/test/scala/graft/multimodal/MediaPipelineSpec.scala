package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MediaPipelineSpec extends SparkSpec {
  import MediaPipeline._

  test("media table: binary payload with typed metadata, stable schema") {
    val m = mediaTable(spark, sf)
    assert(m.schema.map(f => (f.name, f.dataType.typeName)) == Seq(
      ("doc_id", "long"), ("fmt", "string"), ("media", "binary")))
    val r = m.orderBy("doc_id").limit(1).collect().head
    assert(r.getAs[Array[Byte]]("media").length == 16)
  }

  test("decodeStub is deterministic and bounded") {
    val f = decodeStub(MediaRow(1L, "png", Array.tabulate(16)(i => (i * 17).toByte)))
    assert(f == decodeStub(MediaRow(1L, "png", Array.tabulate(16)(i => (i * 17).toByte))))
    assert(f.width >= 1 && f.width <= 1920)
    assert(f.height >= 1 && f.height <= 1080)
    assert(f.n_bytes == 16)
  }

  test("extractFeatures runs the typed mapPartitions path end-to-end") {
    import spark.implicits._
    val out = extractFeatures(mediaTable(spark, sf).as[MediaRow])
    assert(out.count() > 0)
    val bad = out.filter(f =>
      f.width < 1 || f.width > 1920 || f.height < 1 || f.height > 1080 ||
        f.mean_byte < 0 || f.mean_byte > 255)
    assert(bad.count() == 0)
  }

  test("frame sampling: stride-2 over 4 frames yields frames 0 and 2 per video") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).count()
    val frames = frameFeatures(spark, sf).cache()
    assert(frames.count() == 2 * docs)
    val idxs = frames.select(col("frame_idx")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(idxs == Set(0, 2))
    assert(frames.filter(col("frame_mean") < 0 || col("frame_mean") > 255).count() == 0)
    assert(frames.filter(col("n_high") < 0 || col("n_high") > 16).count() == 0)
    frames.unpersist()
  }

  test("frame sampling at stride 1 yields every frame") {
    import spark.implicits._
    val v = Seq(VideoRow(7L, Array.tabulate(64)(i => i.toByte))).toDS()
    val fs = sampleFrames(v, 1).collect().sortBy(_.frame_idx)
    assert(fs.map(_.frame_idx).toSeq == Seq(0, 1, 2, 3))
    // frame 0 bytes are 0..15 -> mean 7.5, none >= 128
    assert(fs.head.frame_mean == 7.5 && fs.head.n_high == 0)
  }

  test("features equals the pure-SQL recomputation (oracle parity shape)") {
    val viaDs = features(spark, sf)
      .select(col("doc_id"), col("width")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val viaSql = mediaTable(spark, sf)
      .select(col("doc_id"),
        ((conv(substring(hex(col("media")), 1, 4), 16, 10).cast("int")) % 1920 + 1)
          .as("width"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(viaDs == viaSql)
  }
}
