package graft

/** Measures the carry-chain driver bound (VERDICT r11 "what's wrong" #2):
  * the prefix-carry operators (Fill.ffill, Cumulative, Expanding,
  * MergeAsof global) collect ONE boundary scalar/state row per partition
  * before broadcasting the carries back.  This probe serializes exactly
  * that payload for a given replica so PLANS.md can record the measured
  * bytes-per-partition and extrapolate to the ~8×10⁵ partitions of a
  * 100 TB / 128 MB-split table — the evidence for "bounded, documented"
  * vs "switch to a tree-carry".
  *
  * Usage: `runMain graft.CarryProbe <sfDir>` → one JSON line.
  */
object CarryProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.getOrCreate(cpus)
    val li = GraftSession.table(spark, dir, "lineitem")
    val vIdx = li.schema.fieldIndex("l_quantity")
    val n = li.rdd.getNumPartitions
    // the EXACT payload Fill.ffill collects: (pid, last-non-null scalar)
    val boundary: Array[(Int, Any)] = li.rdd.mapPartitionsWithIndex { (pid, it) =>
      var last: Any = null
      it.foreach { r => val v = r.get(vIdx); if (v != null) last = v }
      Iterator.single((pid, last))
    }.collect()
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(boundary); oos.close()
    val perPart = bos.size().toDouble / math.max(n, 1)
    // extrapolation to a 100 TB table read at 128 MB splits
    val extraPartitions = 100e12 / 128e6
    // r14: Cumulative/Expanding route carries through TreeCarry — the
    // driver only ever materializes the ⌈√n⌉ bucket totals. Report both
    // bounds so PLANS.md can record the before/after at the 100 TB point.
    val sqrtParts = math.ceil(math.sqrt(extraPartitions)).toLong
    val treeBytes = (perPart * sqrtParts).toLong
    println(f"""{"dir":"$dir","npartitions":$n,"boundaryBytes":${bos.size()},"bytesPerPartition":$perPart%.1f,"projectedBytesAt100TB":${(perPart * extraPartitions).toLong},"treeCarryDriverBytesAt100TB":$treeBytes,"treeCarryNote":"Cumulative/Expanding/Fill now collect only sqrt(n) bucket totals (TreeCarry); MergeAsof-global's per-bucket tails were already O(nBuckets)"}""")
    spark.stop()
  }
}
