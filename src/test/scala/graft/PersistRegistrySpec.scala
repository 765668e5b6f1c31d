package graft

import org.apache.spark.storage.StorageLevel
import graft.operators.{Bpe, Dedup, Multimodal, PersistRegistry}

/** One registry behind every operator's persists: a per-owner release
  * leaves the other owners' frames alone, and one drain releases them all.
  */
class PersistRegistrySpec extends SparkSpec {

  test("unpersistAll releases only its owner's frames; releaseAll drains " +
      "every owner and empties the registry") {
    PersistRegistry.releaseAll()
    val a = Dedup.cached(spark.range(10).toDF("id"))
    val b = Multimodal.cached(spark.range(20).toDF("id"))
    assert(a.count() === 10L && b.count() === 20L)
    assert(a.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(b.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(PersistRegistry.size === 2)

    Dedup.unpersistAll()
    assert(a.storageLevel === StorageLevel.NONE)
    assert(b.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(PersistRegistry.size === 1)

    PersistRegistry.releaseAll()
    assert(b.storageLevel === StorageLevel.NONE)
    assert(PersistRegistry.size === 0)
  }

  test("track hands a caller's own persist to an owner without " +
      "persisting again") {
    PersistRegistry.releaseAll()
    val own = spark.range(30).toDF("id").persist(StorageLevel.MEMORY_ONLY)
    Bpe.track(own)
    assert(own.storageLevel === StorageLevel.MEMORY_ONLY)
    Dedup.unpersistAll()
    assert(own.storageLevel === StorageLevel.MEMORY_ONLY)
    Bpe.unpersistAll()
    assert(own.storageLevel === StorageLevel.NONE)
    assert(PersistRegistry.size === 0)
  }
}
