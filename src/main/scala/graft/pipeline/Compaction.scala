package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** D6: post-import compaction (reference `fullCompact`/`doCompact`,
  * `lightning/restore/restore.go:1710-1737`). The reference asks every
  * store to compact its LSM; the columnar analog rewrites a table's
  * many range files into `n` larger ones — same motivation (read
  * amplification after a multi-batch import), same placement (after
  * verification). All moves go through the Hadoop FS API, so the
  * rewrite works wherever the table lives (local, HDFS, S3A).
  */
object Compaction {

  /** Rewrite the table dir `path` into `n` files, keeping what the
    * import wrote: its format (parquet or ORC, read off its data
    * files) and its `PARTITION BY` layout — each `col=value` dir comes
    * back under its own name with one file, because partition values
    * are read as the raw dir strings, never type-inferred and
    * re-rendered. Returns (data files before, after), counted through
    * every partition dir.
    */
  def compact(spark: SparkSession, path: String, n: Int): (Int, Int) = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = dataFiles(fs, target)
    val format = if (before.exists(_.getName.endsWith(".orc"))) "orc" else "parquet"
    val partCols = partitionColumns(fs, target)
    val dataCols = spark.read.format(format).load(path).schema
      .filterNot(f => partCols.contains(f.name))
    val df = spark.read.format(format)
      .schema(StructType(dataCols ++ partCols.map(StructField(_, StringType))))
      .load(path)
    val tmp = new Path(path + ".compacting")
    (if (partCols.isEmpty) df.repartition(n)
     else df.repartition(n, partCols.map(col): _*))
      .write.format(format).mode("overwrite").partitionBy(partCols: _*)
      .save(tmp.toString)
    fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
    (before.size, dataFiles(fs, target).size)
  }

  private def visible(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  /** The data files a scan of `dir` lists: hidden names skipped at
    * every level, partition dirs descended.
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.filter(s => visible(s.getPath)).flatMap { s =>
      if (s.isDirectory) dataFiles(fs, s.getPath) else Seq(s.getPath)
    }

  /** The partition columns, outermost first, read off the first
    * `col=value` dir at each level.
    */
  private def partitionColumns(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).toSeq.map(s => (s.getPath, s.isDirectory))
      .collectFirst { case (p, true) if visible(p) && p.getName.contains("=") => p }
      .fold(Seq.empty[String])(p =>
        p.getName.takeWhile(_ != '=') +: partitionColumns(fs, p))
}
