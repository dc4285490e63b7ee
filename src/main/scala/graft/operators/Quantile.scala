package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Distributed EXACT interpolated percentiles (round-14 optimization;
  * round-15 moved the heavy sort onto the SQL engine and guarded the
  * grouped member's cardinality regime).
  *
  * Spark's builtin `percentile` aggregate is exact but holistic: every
  * partial buffer is an OpenHashMap of (value -> count) over the
  * partition's DISTINCT values, and the final merge folds ALL of them
  * into ONE reducer task — an O(n_distinct) single-task memory bound.
  * On a ~unique double column (money amounts) that is O(n) on one task:
  * the same class of scale ceiling as one-task-per-group, except no
  * spill path exists for the aggregation buffer itself. Measured at
  * sf0.1 it is also the slow path locally (q12: 1.6 s for three cut
  * points over 600 k rows).
  *
  * This operator computes the identical value with no single-task
  * bound, guide §2.5/§5 style: range-partitioned distributed sort of
  * the column (Spark samples bounds; every task holds only its range
  * slice), one tiny job for per-partition counts, then a positional
  * pick of the ≤ 2·|ps| order statistics each percentile interpolates
  * between. Driver state: the partition-count array (O(npartitions)
  * longs) and the picked scalars — metadata-sized, same class as the
  * boundary collects the engine already does.  Since round 15 the sort
  * runs through the SQL engine (`repartitionByRange` +
  * `sortWithinPartitions`: UnsafeRow shuffle, codegen sort) and the two
  * metadata jobs read the plan's own InternalRow RDD — the former RDD
  * `sortBy` deserialized every row to an external object for the
  * sample and shuffle passes and moved boxed values through Java
  * serialization.
  *
  * Bit-exactness contract: the result reproduces Spark's
  * `Percentile.getPercentile` arithmetic exactly —
  * `position = p * (n-1)`; if `floor == ceil` (or the two neighboring
  * order statistics are equal) the statistic itself, else
  * `(ceil - position) * lower + (position - floor) * upper` in that
  * operation order. The equal-neighbor test compares
  * `doubleToLongBits`, matching the builtin's boxed-key comparison
  * (distinguishes -0.0 from 0.0, collapses NaNs), not primitive `==`.
  * Nulls are dropped like the builtin; NaN is COUNTED like the builtin
  * (a value ordered greatest). One documented divergence: -0.0 is
  * normalised to 0.0 when `__v` is built, so a statistic that lands on a
  * zero is always +0.0. Without it the SQL sort, which orders the two
  * zeros as EQUAL, could return either zero for the same input depending
  * on the shuffle; the builtin, whose physical ordering puts -0.0 first,
  * may return -0.0 there — numerically `==`, different bit pattern.
  * QuantileSpec pins `==` equality against the builtin on fixture data
  * and the edge shapes (single row, ties, p = 0/1, exact-integer
  * positions, NaN, both signed zeros).
  *
  * The reference computes dataframe quantiles via per-partition
  * sketches merged on one worker (`dask_expr/_quantile.py`) —
  * approximate by default; its exact path (`quantile(method=...)`) has
  * the same concentrate-then-select bound this removes.
  */
object Quantile {

  /** The value column `__v`: cast to double, -0.0 normalised to 0.0 (SQL
    * `=` treats the two zeros as equal, so the `when` catches both; NaN
    * and null pass through unchanged). See the signed-zero paragraph of
    * the scaladoc contract above.
    */
  private def value(c: String) = {
    val v = col(c).cast("double")
    when(v === 0.0, lit(0.0)).otherwise(v).as("__v")
  }

  /** `Percentile.getPercentile`'s interpolation, bit-for-bit (see the
    * scaladoc contract above).
    */
  private def interpolate(pos: Double, lowerVal: Double, higherVal: Double): Double =
    if (java.lang.Double.doubleToLongBits(higherVal) ==
        java.lang.Double.doubleToLongBits(lowerVal)) lowerVal
    else {
      val lower = pos.floor
      val higher = pos.ceil
      (higher - pos) * lowerVal + (pos - lower) * higherVal
    }

  /** Exact percentiles of `colName` (cast to double, nulls dropped) at
    * probabilities `ps`. One distributed sort + two metadata jobs;
    * requires a non-empty column, like the declared queries it serves.
    */
  def exact(df: DataFrame, colName: String, ps: Seq[Double]): Array[Double] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentile probabilities must be in [0,1]: $ps")
    val spark = df.sparkSession
    // isNotNull, NOT na.drop(): the builtin counts NaN as a value
    // (ordered greatest) and na.drop would silently drop it too
    val vals = df.select(value(colName))
      .filter(col("__v").isNotNull)
    // the scan's partition count follows file layout, not data size — a
    // 2-file replica gave the 40x sort ~4 partitions and its tasks
    // spilled (r14, measured: 40x slower than 100x). Floor the sort
    // parallelism at the session's shuffle setting: scale-adaptive
    // (conf-driven), not a local core count.
    val sortParts = math.max(InternalScan.rddOf(vals).getNumPartitions,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    // SQL double ordering matches the builtin's physical order (NaN
    // greatest); rows whose whole content is the sort key make the two
    // passes below order-stable under shuffle-file reuse
    val sorted = vals.repartitionByRange(sortParts, col("__v"))
      .sortWithinPartitions("__v")
    val srdd = InternalScan.rddOf(sorted)
    // Long row counter (ADVICE r14: Iterator.size accumulates in an Int
    // and silently wraps at 2^31 rows per partition — exactly the
    // low-parallelism 100 TB regime this operator exists for)
    val counts = srdd.mapPartitions({ it =>
      var c = 0L
      while (it.hasNext) { it.next(); c += 1 }
      Iterator.single(c)
    }, preservesPartitioning = true).collect()
    val offsets = counts.scanLeft(0L)(_ + _) // offsets(p) = global index of partition p's first row
    val n = offsets.last
    require(n > 0, s"exact percentile over an empty column: $colName")
    val maxPos = (n - 1).toDouble
    val positions = ps.map(maxPos * _)
    val needed = positions.flatMap(pos =>
      Seq(pos.floor.toLong, pos.ceil.toLong)).distinct
    // global index -> (owning partition, index within it); empty
    // partitions make offsets non-strict, so take the LAST partition
    // whose range still contains g
    def locate(g: Long): (Int, Long) = {
      var p = 0
      while (p + 1 < counts.length && offsets(p + 1) <= g) p += 1
      (p, g - offsets(p))
    }
    val byPart: Map[Int, Seq[(Long, Long)]] = // partition -> (localIdx, globalIdx)
      needed.map { g => val (p, l) = locate(g); (p, (l, g)) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2) }
    val bc = srdd.sparkContext.broadcast(byPart)
    val picked: Map[Long, Double] = srdd.mapPartitionsWithIndex { (p, it) =>
      bc.value.get(p) match {
        case None => Iterator.empty
        case Some(wanted) =>
          val want = wanted.toMap // localIdx -> globalIdx
          var i = 0L
          val out = Seq.newBuilder[(Long, Double)]
          while (it.hasNext) {
            val v = it.next().getDouble(0)
            want.get(i).foreach(g => out += ((g, v)))
            i += 1
          }
          out.result().iterator
      }
    }.collect().toMap
    bc.destroy()
    positions.map { pos =>
      val lower = pos.floor.toLong
      val higher = pos.ceil.toLong
      val lowerVal = picked(lower)
      if (higher == lower) lowerVal
      else interpolate(pos, lowerVal, picked(higher))
    }.toArray
  }

  /** Grouped exact percentiles with NO whole-group task: the holistic
    * counterpart of the r14 skew-resilient grouped-scan family. The
    * builtin grouped `percentile` holds one value-count map PER GROUP in
    * the aggregation buffer — fine for well-distributed groups (each map
    * is group-sized), a single-task ceiling when one group is huge
    * (3 dictionary-valued groups over the whole fact = one third of the
    * fact in one buffer at 100 TB). Here the (group, value) pairs are
    * range-sorted so groups are contiguous AND hot groups span
    * partitions; per-partition (group, count, localStart) run summaries —
    * O(npartitions + ngroups) driver metadata — locate each group's
    * target order statistics, and one pick job fetches them.
    * Interpolation reproduces the builtin bit-for-bit (same contract as
    * [[exact]], QuantileSpec pins it per group).
    *
    * Cardinality guard (r15, VERDICT r14 #5): the driver metadata above
    * is only safe in the operator's documented hot/LOW-cardinality
    * regime. A bounded distinct probe checks the group count first;
    * above `maxGroups` the call falls back to the builtin grouped
    * percentile — whose per-group buffers are small exactly when groups
    * are many — instead of collecting an unbounded dictionary.
    *
    * Group rows whose values are ALL null emit no output row on either
    * path (the non-null pre-filter removes them before grouping); the
    * bare builtin would emit such a group with a null percentile — a
    * deliberate, documented exclusion (ADVICE r14).
    *
    * Output columns: the group column (original type) + one double
    * column `p<i>` per probability. Row order: groups in sort order on
    * the tree path, unspecified on the fallback (callers requiring an
    * order must sort).
    */
  def exactGrouped(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], maxGroups: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentile probabilities must be in [0,1]: $ps")
    val spark = df.sparkSession
    val groupField = df.schema(groupCol)
    val base = df.select(col(groupCol), value(valueCol))
      .filter(col("__v").isNotNull)
    // bounded cardinality probe: collects at most maxGroups+1 group
    // values, never the full dictionary
    val probe = base.select(col(groupCol)).distinct().limit(maxGroups + 1).collect()
    if (probe.length > maxGroups)
      return base.groupBy(col(groupCol))
        .agg(percentile(col("__v"), array(ps.map(lit): _*)).as("__ps"))
        .select(col(groupCol) +: ps.indices.map(i =>
          col("__ps").getItem(i).as(s"p$i")): _*)

    // same scan-layout-independent sort parallelism as [[exact]]
    val sortParts = math.max(InternalScan.rddOf(base).getNumPartitions,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    // range partition + sort on the COMPOSITE (group, value) key: groups
    // contiguous, hot groups span partitions, value order within group.
    // The whole row is the sort key, so both metadata jobs below see the
    // same order under shuffle-file reuse.
    val sorted = base.repartitionByRange(sortParts, col(groupCol), col("__v"))
      .sortWithinPartitions(col(groupCol), col("__v"))
    val schema = sorted.schema
    val srdd = InternalScan.rddOf(sorted)
    // contiguous (group key, count, within-partition offset) runs; group
    // keys are UnsafeRow projections (byte equality = value equality)
    val segments: Array[(Int, Seq[(UnsafeRow, Long, Long)])] =
      srdd.mapPartitionsWithIndex { (p, it) =>
        val keyProj = new InternalScan.KeyProj(schema, Seq(0))
        val runs = scala.collection.mutable.ArrayBuffer.empty[(UnsafeRow, Long, Long)]
        var local = 0L
        var curKey: UnsafeRow = null
        var curStart = 0L
        var curCount = 0L
        while (it.hasNext) {
          val r = it.next()
          val g = keyProj(r)
          if (curKey == null || g != curKey) {
            if (curKey != null) runs += ((curKey, curCount, curStart))
            curKey = g.copy(); curStart = local; curCount = 0L
          }
          curCount += 1; local += 1
        }
        if (curKey != null) runs += ((curKey, curCount, curStart))
        Iterator.single((p, runs.toSeq))
      }.collect().sortBy(_._1)
    // dense group codes in first-appearance (= sort) order
    val codeOf = scala.collection.mutable.LinkedHashMap.empty[UnsafeRow, Int]
    // per group: ordered segment list (partition, localStart, count)
    val perGroup = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]]
    for ((p, runs) <- segments; (key, count, localStart) <- runs) {
      val k = codeOf.getOrElseUpdate(key, codeOf.size)
      perGroup.getOrElseUpdate(k,
        scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]) +=
        ((p, localStart, count))
    }
    // group's k-th value -> (partition, local index), via the segment walk
    def locate(segs: Seq[(Int, Long, Long)], k: Long): (Int, Long) = {
      var seen = 0L
      for ((p, start, c) <- segs) {
        if (k < seen + c) return (p, start + (k - seen))
        seen += c
      }
      throw new IllegalStateException(s"order statistic $k beyond group size $seen")
    }
    val wanted = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.Map[Long, (Int, Long)]]
    val positionsByGroup = perGroup.map { case (k, segs) =>
      val n = segs.map(_._3).sum
      val maxPos = (n - 1).toDouble
      val positions = ps.map(maxPos * _)
      positions.flatMap(pos => Seq(pos.floor.toLong, pos.ceil.toLong))
        .distinct.foreach { idx =>
          val (p, local) = locate(segs.toSeq, idx)
          wanted.getOrElseUpdate(p, scala.collection.mutable.Map.empty)
            .update(local, (k, idx))
        }
      k -> positions
    }
    val bc = srdd.sparkContext.broadcast(
      wanted.map { case (p, m) => p -> m.toMap }.toMap)
    val picked: Map[(Int, Long), Double] =
      srdd.mapPartitionsWithIndex { (p, it) =>
        bc.value.get(p) match {
          case None => Iterator.empty
          case Some(want) =>
            var i = 0L
            val out = Seq.newBuilder[((Int, Long), Double)]
            while (it.hasNext) {
              val v = it.next().getDouble(1)
              want.get(i).foreach(slot => out += ((slot, v)))
              i += 1
            }
            out.result().iterator
        }
      }.collect().toMap
    bc.destroy()
    val keyByCode = codeOf.map { case (key, k) => k -> key }
    val toExternal = GraftSqlShim.toScalaConverter(groupField.dataType)
    val rows = positionsByGroup.map { case (k, positions) =>
      val vals = positions.map { pos =>
        val lower = pos.floor.toLong
        val higher = pos.ceil.toLong
        val lowerVal = picked((k, lower))
        if (higher == lower) lowerVal
        else interpolate(pos, lowerVal, picked((k, higher)))
      }
      val groupValue = toExternal(keyByCode(k).get(0, groupField.dataType))
      Row.fromSeq(groupValue +: vals)
    }.toSeq
    val outSchema = StructType(
      groupField.copy(nullable = true) +:
        ps.indices.map(i => StructField(s"p$i", DoubleType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), outSchema)
  }
}
