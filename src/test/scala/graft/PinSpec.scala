package graft

import graft.operators.{Bpe, Clustering, Dedup, Similarity}
import graft.operators.Similarity.{Frame, Pq}

/** Every scoped pin gives its blocks back when its body returns or throws,
  * without waiting for a GC (so no `System.gc()` here: the ContextCleaner
  * would then release what a leaking site left behind).
  */
class PinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = (0 until 6).map(i => (i.toLong, Seq(i.toFloat, 1f, -i.toFloat, 2f)))
    .toDF("vec_id", "embedding")

  test("Pin.checkpointed and Pin.cached release when the body throws") {
    val df = spark.range(100).toDF("x")
    releases("checkpointed") {
      intercept[IllegalStateException] {
        Pin.checkpointed(df) { p => p.count(); throw new IllegalStateException("body") }
      }
    }
    releases("cached") {
      intercept[IllegalStateException] {
        Pin.cached(df.selectExpr("x * 2 AS y")) { p =>
          assert(p.count() === 100L)
          throw new IllegalStateException("body")
        }
      }
    }
  }

  test("kmeansFit with k above the row count releases its pin") {
    releases("kmeansFit") {
      val e = intercept[IllegalArgumentException] {
        Clustering.kmeansFit(vecs, "embedding", "vec_id", k = 7, iters = 2)
      }
      assert(e.getMessage.contains("need at least 7 rows"))
    }
  }

  test("a PQ top-k whose codebook outgrows the rows releases its pin") {
    releases("fitBooksFused") {
      val e = intercept[IllegalArgumentException] {
        Similarity.topK(vecs, Frame(vecs), "embedding", "vec_id", 2,
          code = Pq(m = 2, codebook = 7))
      }
      assert(e.getMessage.contains("need at least 7 rows"))
    }
  }

  test("buildSq8Index releases its calibration pin") {
    val dir = java.nio.file.Files.createTempDirectory("pin_sq8")
    try releases("buildSq8Index") {
      Similarity.buildSq8Index(vecs, "embedding", "vec_id", dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("learnMerges and dedupClusters release their pins") {
    releases("learnMerges") {
      val texts = Seq("low lower lowest", "new newer newest").toDF("text")
      assert(Bpe.learnMerges(texts, "text", merges = 3).count() === 3L)
    }
    releases("dedupClusters") {
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc1", "doc2")
      assert(Dedup.dedupClusters(pairs).count() === 5L)
    }
  }
}
