package graft.view

import org.apache.spark.storage.StorageLevel

import graft.SparkSuite

/** Pins the adaptive pipeline-input storage-level dispatch (round-12
  * verdict: the 90× entity melt must survive the default 12 GiB heap
  * without a SPARK_DRIVER_MEM knob — oversized cache builds route to
  * DISK_ONLY instead of storage-starving execution memory). */
class PatternsPersistSpec extends SparkSuite {

  test("chooseLevel: memory inside half-heap, disk beyond, boundary exact") {
    val heap = 12L << 30 // the default harness driver heap
    // sf0.1-melt-shaped input (~3 MB of parquet): stays in memory.
    assert(Patterns.chooseLevel(BigInt(3L << 20), heap) == StorageLevel.MEMORY_AND_DISK)
    // 90×-melt-shaped input (~230 MB of orders parquet × 50 inflation
    // ≈ 11.7 GB estimated cache > 6 GB half-heap): disk.
    assert(Patterns.chooseLevel(BigInt(230L << 20), heap) == StorageLevel.DISK_ONLY)
    // Same input under the r12 workaround's 24 GiB heap: estimated
    // 11.7 GB < 12 GB half-heap → memory, matching what the knob was
    // measured to survive.
    assert(Patterns.chooseLevel(BigInt(230L << 20), 24L << 30) == StorageLevel.MEMORY_AND_DISK)
    // Boundary is exact: estimate == half heap stays in memory.
    val atBoundary = BigInt((heap / 2) / Patterns.CacheInflation)
    assert(Patterns.chooseLevel(atBoundary, heap) == StorageLevel.MEMORY_AND_DISK)
    assert(Patterns.chooseLevel(atBoundary + 1, heap) == StorageLevel.DISK_ONLY)
  }

  test("inflation hint rescales the dispatch; unknown leaf stats keep MEMORY_AND_DISK") {
    val heap = 12L << 30
    // A 230 MB text frame: 50× melt rate says disk, the measured 4×
    // text rate says it fits comfortably in memory (r13 advice — don't
    // charge text caches the melt's worst case).
    assert(Patterns.chooseLevel(BigInt(230L << 20), heap) == StorageLevel.DISK_ONLY)
    assert(Patterns.chooseLevel(BigInt(230L << 20), heap,
      Patterns.TextInflation) == StorageLevel.MEMORY_AND_DISK)
    // A leaf without real statistics (LogicalRDD from localCheckpoint)
    // reports defaultSizeInBytes = Long.MaxValue; that must read as
    // "unknown, keep the graceful default", not "infinite, force disk".
    val s = spark
    import s.implicits._
    val checkpointed = Seq((1L, "a"), (2L, "b")).toDF("id", "v").localCheckpoint()
    assert(Patterns.adaptiveLevel(checkpointed) == StorageLevel.MEMORY_AND_DISK)
  }

  test("ensurePersisted applies the dispatch; persisted input left as is") {
    val s = spark
    import s.implicits._
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val p = Patterns.ensurePersisted(tiny)
    assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK) // tiny input
    p.unpersist()
    val d = tiny.persist(StorageLevel.DISK_ONLY)
    try assert(Patterns.ensurePersisted(d).storageLevel == StorageLevel.DISK_ONLY)
    finally d.unpersist()
  }
}
