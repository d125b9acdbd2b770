package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-file key zone maps read from parquet FOOTERS only — the manifest
  * statistic that lets maintenance jobs (erasure, compaction targeting,
  * clustering audits) decide which files a key set touches WITHOUT
  * scanning data and WITHOUT driver-side file lists.
  *
  * Scale shape: the file inventory is a DataFrame (a content-pruned
  * `binaryFile` listing — only the `path` column is projected, so file
  * bytes are never read), and the footer opens run inside executors via
  * `mapPartitions`; no path or statistic ever aggregates on the driver.
  * Cost is one footer read per file — exactly what a lakehouse manifest
  * write amortizes away; computing it on demand here is the no-catalog
  * fallback with the same downstream join shape.
  */
object ZoneMaps {

  /** One row per parquet file under `dir`: (path, zmin, zmax) of the
    * long-typed `column`, min/max over the file's row-group statistics.
    *
    * Fail-closed contract: a file with zero rows surfaces as an empty
    * zone (zmin > zmax), which no key can match; but a file that HAS
    * rows yet carries no usable statistics for `column` surfaces as the
    * UNIVERSAL zone (Long.MinValue, Long.MaxValue), which every key
    * matches. Selectors built on zones (erasure, compaction targeting)
    * therefore treat stat-less data as affected rather than silently
    * skipping it — the safe default for a privacy-erasure planner fed an
    * externally-written layout whose writer dropped column stats.
    */
  def keyZones(spark: SparkSession, dir: String, column: String): DataFrame = {
    import spark.implicits._
    val paths = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet").load(dir)
      .select("path").as[String]
    paths.mapPartitions { it =>
      import scala.jdk.CollectionConverters._
      val conf = ManifestCodec.hadoopConf()
      it.map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          var mn = Long.MaxValue
          var mx = Long.MinValue
          var rows = 0L
          r.getFooter.getBlocks.asScala.foreach { b =>
            rows += b.getRowCount
            b.getColumns.asScala
              .find(_.getPath.toDotString == column)
              .foreach { c =>
                val st = c.getStatistics
                if (st != null && st.hasNonNullValue) {
                  mn = math.min(mn, st.genericGetMin.toString.toLong)
                  mx = math.max(mx, st.genericGetMax.toString.toLong)
                }
              }
          }
          if (mn > mx && rows > 0L) (p, Long.MinValue, Long.MaxValue)
          else (p, mn, mx)
        } finally r.close()
      }
    }.toDF("path", "zmin", "zmax")
  }
}
