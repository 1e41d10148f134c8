package graft.tools

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction — the file-count hygiene pass every long-running
  * ingest (streaming sinks, per-batch appends) needs: a parquet directory
  * of N tiny files is rewritten as ceil(totalBytes / targetBytes) files.
  *
  * Sizing reads the FILE footprint (not row count) so the result tracks
  * the on-disk reality, and the rewrite is a `repartition(k)` — a single
  * round-robin shuffle with no skew sensitivity. Row values are
  * untouched; CompactionSpec asserts set equality and the file-count
  * bound. Usable as a library call or CLI main.
  */
object Compact {
  /** @return number of output files written */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    // Size via the Hadoop FileSystem of the INPUT path (recursive): works
    // for hdfs://s3a:// URIs and Hive-partitioned subdirectory layouts,
    // where a java.io.File listing would see 0 bytes and silently
    // repartition(1) the whole dataset.
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = inPath.getFileSystem(hadoopConf)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outQ = outPath.getFileSystem(hadoopConf).makeQualified(outPath)
    val inQ = fs.makeQualified(inPath)
    // Overwrite deletes the output before tasks read the lazy input — an
    // in-place or ANCESTOR output would destroy the data it is
    // compacting (deleting /lake/events also deletes /lake/events/08).
    def contains(a: org.apache.hadoop.fs.Path, b: org.apache.hadoop.fs.Path): Boolean = {
      var p: org.apache.hadoop.fs.Path = b
      while (p != null) { if (p == a) return true; p = p.getParent }
      false
    }
    require(!contains(outQ, inQ) && !contains(inQ, outQ),
      s"output $outDir overlaps input $inDir; Overwrite would delete the input — write to a disjoint staging dir")
    val it = fs.listFiles(inPath, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    require(bytes > 0, s"no parquet files found under $inDir")
    val k = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir)
      .repartition(k)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    k
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.tools.Compact <inDir> <outDir> [targetBytes]")
      sys.exit(2)
    }
    val target = if (args.length > 2) args(2).toLong else 128L * 1024 * 1024
    val spark = graft.LocalSession.builder(graft.LocalSession.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val k = compact(spark, args(0), args(1), target)
    println(s"[compact] ${args(0)} -> ${args(1)}: $k file(s)")
    spark.stop()
  }
}
