package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Reader for the reference's reshaped-metrics bundles
  * (metrics_advisor.py:38-48): a directory of wide CSVs, one per metric,
  * each with a `timestamp` column plus one column per node/instance/
  * device. Melts every file into the engine's long signal format
  * (name, node, tsec, value); the metric name comes from the file name.
  *
  * Each file is its own schema, so files are enumerated and unioned.
  * Headers are read on the driver (first line of each file, parsed and
  * de-duplicated exactly as Spark's header inference does), so building
  * the per-file scans launches no job; every execution of the result
  * then parses each file once. A bundle has hundreds of metrics (small
  * files); the heavy data lives in the rows, which stream through the
  * melt without materializing wide.
  */
object MetricsCsv {

  /** All signals from `*.csv` under `dir` with more than `minSamples`
    * rows per file (reference keeps files with > 20 rows).
    */
  def read(spark: SparkSession, dir: String, minSamples: Int = 20): DataFrame = {
    // metric file names contain ':' (node_cpu:by_instance.csv), which
    // Hadoop Path cannot represent at any stage (SPARK-32097) — list the
    // directory ourselves and read colon-named local files through
    // sanitized symlinks (what an untar-stage renamer would do).
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(hadoopConf)
    val files = fs.listStatus(new Path(dir))
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".csv") && !p.getName.startsWith("._"))
    lazy val linkDir = java.nio.file.Files.createTempDirectory("graft_metrics_csv")
    val parts = files.toSeq.flatMap { p =>
      val name = p.getName.stripSuffix(".csv")
      val readablePath =
        if (p.getName.contains(":") && p.toUri.getScheme == "file") {
          val link = linkDir.resolve(p.getName.replace(":", "__"))
          if (!java.nio.file.Files.exists(link))
            java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(p.toUri))
          link.toUri.toString
        } else p.toUri.toString
      val columns = headerColumns(spark, readablePath, hadoopConf)
      val valueCols = columns.filter(_ != "timestamp")
      // a metric exported with zero node columns (cluster-4048 ships
      // one such file) carries no data — skip it rather than emit a
      // zero-arg stack() the parser rejects
      if (valueCols.isEmpty || !columns.contains("timestamp")) None
      else {
        val df = spark.read.schema(StructType(columns.map(StructField(_, StringType))))
          .option("header", "true").csv(readablePath)
        val stackArgs = valueCols.map(c => s"'${c.replace("'", "")}', CAST(`$c` AS DOUBLE)").mkString(", ")
        Some(df.selectExpr(
          s"'${name.replace("'", "")}' AS name",
          "CAST(timestamp AS BIGINT) AS tsec",
          s"stack(${valueCols.length}, $stackArgs) AS (node, value)")
          .select("name", "node", "tsec", "value"))
      }
    }
    // a bundle whose every CSV was skipped (no timestamp / zero value
    // columns) or an empty directory would otherwise die in
    // parts.reduce with a bare UnsupportedOperationException — name the
    // directory and the reason instead
    if (parts.isEmpty)
      throw new java.io.IOException(
        s"no usable metric CSVs under $dir: " +
          s"${files.length} *.csv file(s) found, none with a `timestamp` column plus >=1 value column")
    val all = parts.reduce(_.unionByName(_))
    // the reference drops NaN cells on ingest (metrics_advisor.py:88):
    // empty cells and non-numeric strings cast to NULL above, and a
    // literal "NaN" casts to NaN — neither may reach downstream
    // aggregates. Dropped BEFORE the sample gate so signal validity
    // counts real samples only.
    val clean = all.filter(col("value").isNotNull && !isnan(col("value")))
    // a per-signal window count, not aggregate + self-join: the join
    // made every execution scan the files twice (once per side)
    clean.withColumn("n_samples", count(lit(1)).over(Window.partitionBy("name", "node")))
      .filter(col("n_samples") > minSamples)
      .drop("n_samples")
  }

  /** The column names `spark.read.option("header", "true").csv(path)`
    * infers, without its inference job: the first non-empty line, parsed
    * with the reader's own univocity settings and made safe (empty cells
    * become `_c<i>`, duplicates get their index appended) by the same
    * Spark helpers. Empty for an empty file.
    */
  private def headerColumns(spark: SparkSession, path: String,
                            conf: org.apache.hadoop.conf.Configuration): Array[String] = {
    val options = new CSVOptions(Map("header" -> "true"), true,
      spark.conf.get("spark.sql.session.timeZone"))
    CSVUtils.readHeaderLine(new Path(path), options, conf)
      .map(line => CSVUtils.makeSafeHeader(new CsvParser(options.asParserSettings).parseLine(line),
        spark.conf.get("spark.sql.caseSensitive").toBoolean, options))
      .getOrElse(Array.empty[String])
  }
}
