package graft

import graft.operators.Sizing
import org.scalatest.funsuite.AnyFunSuite

/** The one rule that sizes a new ETL table's key-hash buckets. */
class SizingSpec extends AnyFunSuite {

  test("tableBuckets: rows over the per-bucket target, rounded up, floor 1, capped") {
    val target = Sizing.RowsPerBucket
    assert(Sizing.tableBuckets(0L) === 1)
    assert(Sizing.tableBuckets(1L) === 1)
    assert(Sizing.tableBuckets(target) === 1)
    assert(Sizing.tableBuckets(target + 1) === 2)
    assert(Sizing.tableBuckets(16 * target) === 16)
    assert(Sizing.tableBuckets(16 * target + 1) === 17)
    // capped where loopPartitions is
    val cap = Sizing.loopPartitions(Long.MaxValue)
    assert(Sizing.tableBuckets(cap * target) === cap)
    assert(Sizing.tableBuckets(cap * target + 1) === cap)
    assert(Sizing.tableBuckets(Long.MaxValue) === cap)
  }
}
