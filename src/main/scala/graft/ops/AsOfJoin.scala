package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, functions => F}

/** Distributed left as-of join — an operator the reference (a point-lookup
  * engine) has no analog for, but that every event/transcript pipeline
  * needs: attach to each probe row the build row with the greatest
  * `build.ts <= probe.ts` within the same key (probe rows with no prior
  * build row keep nulls).
  *
  * Spark-first shape: instead of a range join (quadratic per key) or a
  * per-key `mapPartitions` (imperative, no codegen), both sides are
  * tagged and unioned, then the build payload — packed into ONE struct —
  * is filled forward with `last(struct, ignoreNulls) OVER (PARTITION BY
  * key ORDER BY ts, tag ROWS UNBOUNDED PRECEDING)`. Build rows sort
  * BEFORE probe rows at equal ts (tag 0 < 1), giving the standard `>=`
  * as-of semantics. One shuffle, keyed by the join key; per-key sorted
  * windows parallelize across keys, so the shape survives corpus scale
  * as long as no single key dominates (the same caveat as any per-key
  * operator).
  *
  * Filling one struct (not each column independently) is load-bearing:
  * the matched build row is returned VERBATIM, nulls included — per-
  * column fill would resurrect an earlier build row's value for a column
  * the matched row legitimately carries as null, mixing columns across
  * build rows (DuckDB's native ASOF returns the matched row verbatim).
  *
  * The build side should be unique per (key, ts); with duplicates the
  * surviving row is the last under the engine's sort, which is not a
  * total order — pre-aggregate the build side to make it deterministic.
  */
object AsOfJoin {

  def leftAsOf(probe: DataFrame, build: DataFrame,
      keyCol: String, tsCol: String): DataFrame = {
    val pPay = probe.columns.filterNot(c => c == keyCol || c == tsCol)
    val bPay = build.columns.filterNot(c => c == keyCol || c == tsCol)
    val clash = pPay.intersect(bPay)
    require(clash.isEmpty,
      s"probe and build payload columns must not overlap: ${clash.mkString(",")}")
    if (bPay.isEmpty) return probe // no payload to attach

    val bStructType = org.apache.spark.sql.types.StructType(
      bPay.map(c => build.schema(c)))
    val buildTagged = build.select(
      Seq(F.col(keyCol), F.col(tsCol).as("__t"), F.lit(0).as("__tag")) ++
        pPay.map(c => F.lit(null).cast(probe.schema(c).dataType).as(c)) :+
        F.struct(bPay.toIndexedSeq.map(F.col): _*).as("__bp"): _*)
    val probeTagged = probe.select(
      Seq(F.col(keyCol), F.col(tsCol).as("__t"), F.lit(1).as("__tag")) ++
        pPay.map(F.col) :+
        F.lit(null).cast(bStructType).as("__bp"): _*)

    val w = Window.partitionBy(keyCol).orderBy(F.col("__t"), F.col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = buildTagged.unionByName(probeTagged)
      .withColumn("__bp", F.last(F.col("__bp"), ignoreNulls = true).over(w))
    filled.filter(F.col("__tag") === 1)
      .select(Seq(F.col(keyCol), F.col("__t").as(tsCol)) ++
        pPay.map(F.col) ++
        bPay.map(c => F.col("__bp").getField(c).as(c)): _*)
  }
}
