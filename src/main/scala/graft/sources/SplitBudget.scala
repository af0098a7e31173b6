package graft.sources

/** The one split rule of the file scans: Spark's `FilePartition.maxSplitBytes`
  * sizing formula, driven by the session's `spark.sql.files.*` confs — so
  * local runs coalesce tiny units into a handful of tasks and a 100 TB
  * archive fans out into ~`maxPartitionBytes`-sized tasks, with no constant
  * tuned for either deployment (guide §6 input split size, §2.2 fewer/larger
  * map tasks). A scan sizes its budget over the bytes it plans to read (after
  * pruning) plus one open cost per file, and packs its read units (GRIB
  * messages, TIFF tiles, zip members, NetCDF records, zarr chunks) up to it. */
object SplitBudget {
  /** Budget of a scan planning `plannedBytes` over `files` files. */
  def maxSplitBytes(plannedBytes: Long, files: Int): Long = {
    val sqlConf = org.apache.spark.sql.internal.SQLConf.get
    val minPartitionNum = sqlConf.filesMinPartitionNum.getOrElse(
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
    val totalBytes = plannedBytes + files * sqlConf.filesOpenCostInBytes
    math.min(sqlConf.filesMaxPartitionBytes,
      math.max(sqlConf.filesOpenCostInBytes,
        totalBytes / math.max(1, minPartitionNum)))
  }

  /** Greedy same-file packing: consecutive units of one file share a split
    * until the next unit would push it past `maxSplit`. A split never spans
    * files and never is empty; a unit larger than `maxSplit` is a split of
    * its own. The open cost sizes the budget but is not charged into a
    * split, which a small file's charge would otherwise fill on its own. */
  def pack[U](units: Seq[(String, U)], bytes: U => Long,
      maxSplit: Long): Seq[(String, Seq[U])] = {
    val out = Seq.newBuilder[(String, Seq[U])]
    var curPath: String = null
    var cur = List.newBuilder[U]
    var curBytes = 0L
    var curEmpty = true
    def flush(): Unit = if (!curEmpty) {
      out += ((curPath, cur.result()))
      cur = List.newBuilder[U]; curBytes = 0L; curEmpty = true
    }
    units.foreach { case (p, u) =>
      val cost = bytes(u)
      if (p != curPath || (!curEmpty && curBytes + cost > maxSplit)) flush()
      curPath = p
      cur += u; curBytes += cost; curEmpty = false
    }
    flush()
    out.result()
  }

  /** [[pack]] under the budget of the units themselves: their bytes plus
    * one open cost per file that has any. */
  def packScan[U](units: Seq[(String, U)], bytes: U => Long): Seq[(String, Seq[U])] =
    pack(units, bytes, maxSplitBytes(units.map(u => bytes(u._2)).sum,
      units.iterator.map(_._1).distinct.size))
}
