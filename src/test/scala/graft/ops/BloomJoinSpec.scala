package graft.ops

import org.apache.spark.sql.{functions => F}

import graft.sketch.BloomSketch
import graft.spark.SparkTestBase

/** BloomJoin sizes its key sketch by distinct build keys, not by build
  * rows, and stays exact either way. */
class BloomJoinSpec extends SparkTestBase {

  test("a duplicate-heavy build side gets a distinct-sized sketch; semi/anti stay exact") {
    // 2,000 keys, each repeated 10x on the build side
    val small = spark.range(0, 20000).select((F.col("id") % 2000).as("k"))
    val large = spark.range(0, 6000).select(F.col("id").as("k"), (F.col("id") * 3).as("v"))
    val sketch = BloomJoin.keySketch(small, "k", 16, "murmur2")
    // the row-count sizing this replaces
    val byRows = BloomSketch(20000, 16).serialize()
    assert(sketch.length * 5 <= byRows.length,
      s"sketch ${sketch.length} B is not 5x below row-count sizing ${byRows.length} B")
    // no false negatives at the smaller size (long keys hash as 8 bytes,
    // big-endian)
    val probe = BloomSketch.deserialize(sketch)
    (0L until 2000L).foreach { k =>
      assert(probe.contains(java.nio.ByteBuffer.allocate(8).putLong(k).array()), s"key $k")
    }

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(BloomJoin.semi(large, "k", small, "k")) ===
      rows(large.join(small, Seq("k"), "left_semi")))
    assert(rows(BloomJoin.anti(large, "k", small, "k")) ===
      rows(large.join(small, Seq("k"), "left_anti")))
  }
}
