package graft

import graft.multimodal.Multimodal

class MultimodalSpec extends GraftSpec {
  import spark.implicits._

  test("synthetic media is deterministic and carries all three modalities") {
    val a = Multimodal.syntheticMedia(spark, 500).collect().sortBy(_.media_id)
    val b = Multimodal.syntheticMedia(spark, 500).collect().sortBy(_.media_id)
    assert(a.map(_.bytes.toSeq) sameElements b.map(_.bytes.toSeq))
    assert(a.map(_.modality).toSet == Set("image", "audio", "video"))
    assert(a.forall(m => m.width >= 1 && m.height >= 1))
  }

  test("feature extraction: stable vectors, fixed dim, exactly one row per media") {
    val media = Multimodal.syntheticMedia(spark, 300)
    val f1 = Multimodal.extractFeatures(media, dim = 16).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media, dim = 16).collect().sortBy(_.media_id)
    assert(f1.length == 300)
    assert(f1.forall(_.feature.length == 16))
    assert(f1.map(_.feature.toSeq).toSeq == f2.map(_.feature.toSeq).toSeq,
      "stub decode must be deterministic across runs/partitionings")
    assert(f1.forall(_.n_frames >= 1))
  }

  test("decode stage is preceded by a size-balancing exchange (skew spread)") {
    val media = Multimodal.syntheticMedia(spark, 100)
    val ds = Multimodal.extractFeatures(media, dim = 8, partitions = 7)
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"), s"no repartition before the decoder: $plan")
    assert(ds.rdd.getNumPartitions == 7)
  }

  test("resizePlan: aspect ratio preserved, bounded by maxDim, never upscaled") {
    val df = Seq((1920, 1080), (100, 50), (4000, 1000), (1, 7000)).toDF("width", "height")
    val out = Multimodal.resizePlan(df, 512).collect()
    out.foreach { r =>
      val (w, h, ow, oh) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
      assert(ow <= 512 && oh <= 512, s"$r exceeds maxDim")
      assert(ow <= w && oh <= h, s"$r upscaled")
      if (math.max(w, h) <= 512) assert(ow == w && oh == h, s"$r resized needlessly")
      else if (ow > 1 && oh > 1) { // 1-pixel floor legitimately distorts ratio
        val ratioIn = w.toDouble / h
        val ratioOut = ow.toDouble / oh
        assert(math.abs(ratioIn - ratioOut) / ratioIn < 0.05, s"aspect drift: $r")
      }
    }
  }
}
