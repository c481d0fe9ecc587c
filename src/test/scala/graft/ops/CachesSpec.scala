package graft.ops

import graft.SparkSpec

class CachesSpec extends SparkSpec {
  import spark.implicits._

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("eager persists and fills the cache before returning") {
    val df = (1 to 10).toDF("x")
    Caches.eager(df) should be theSameInstanceAs df
    val cached = df.queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    cached.map(_.cacheBuilder.isCachedColumnBuffersLoaded) shouldBe Some(true)
    df.unpersist()
  }

  test("owning releases every kept frame when the body throws") {
    val a = (1 to 10).toDF("x")
    val b = (1 to 20).toDF("y")
    val e = intercept[IllegalStateException] {
      Caches.owning { c =>
        c.keep(a)
        c.keep(b)
        a.storageLevel.useMemory shouldBe true
        b.storageLevel.useMemory shouldBe true
        throw new IllegalStateException("stage failed")
      }
    }
    e.getMessage shouldBe "stage failed"
    a.storageLevel.useMemory shouldBe false
    b.storageLevel.useMemory shouldBe false
  }

  test("pipelineV6Stages releases its caches when a stage throws after them") {
    spark.catalog.clearCache()
    val docs = graft.queries.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // capPerDomain = 0 fails groupTokenCap's require AFTER the pair
    // list, the labeled frame and the audit are cached
    val e = intercept[IllegalArgumentException] {
      Curation.pipelineV6Stages(docs, capPerDomain = 0L)
    }
    e.getMessage should include("capPerGroup must be positive")
    // the pair tier's own df-histogram/survivor caches are not the
    // pipeline's (see Dedup.pairCaches); drop them, then nothing of
    // the pipeline may be left
    Dedup.releasePairCaches(spark)
    cacheEmpty shouldBe true
  }
}
