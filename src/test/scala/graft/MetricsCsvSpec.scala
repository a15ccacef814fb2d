package graft

import graft.sources.MetricsCsv
import java.nio.file.Files
import org.apache.spark.sql.functions._

class MetricsCsvSpec extends SparkTestBase {
  import spark.implicits._

  test("reads wide reshape CSVs into long signals with min-sample gate") {
    val dir = Files.createTempDirectory("metrics_csv").toFile
    val f1 = new java.io.File(dir, "node_cpu:by_instance.csv")
    val rows = (0 until 25).map(i => s"${1640588307 + i * 15},${i * 1.5},${i * 2.5}")
    // NaN / empty cells are dropped on ingest (the reference's dropna):
    // one extra row carrying only junk must change nothing downstream
    val junk = s"${1640588307 + 25 * 15},NaN,"
    Files.writeString(f1.toPath,
      ("timestamp,host1:9100,host2:9100" +: rows :+ junk).mkString("\n"))
    // a file below the sample gate
    val f2 = new java.io.File(dir, "tiny.csv")
    Files.writeString(f2.toPath, "timestamp,h\n1,2\n3,4")

    val out = MetricsCsv.read(spark, dir.getAbsolutePath, minSamples = 20)
    val names = out.select("name").distinct().as[String].collect().toSet
    assert(names == Set("node_cpu:by_instance"))
    assert(out.count() == 50)
    val one = out.filter("node = 'host1:9100' AND tsec = 1640588307")
      .select("value").as[Double].head()
    assert(one == 0.0)
  }

  test("Main.run produces a markdown report from a CSV bundle dir") {
    val dir = Files.createTempDirectory("metrics_cli").toFile
    // an objective signal with a step change plus two candidates; hourly
    // points across 4 days so the advisor grid has substance
    val hours = 0 until 96
    def series(f: Int => Double) = hours.map(i => f(i))
    val ts = hours.map(i => 1640563200L + i * 3600L)
    val obj = series(i => if (i < 48) 10.0 + (i % 5) else 80.0 + (i % 7))
    val cand = series(i => if (i < 48) 5.0 + (i % 3) else 40.0 + (i % 4))
    val flat = series(_ => 7.0)
    for ((nm, vals) <- Seq("qps" -> obj, "cpu" -> cand, "disk" -> flat)) {
      val rows = ts.zip(vals).map { case (t, v) => s"$t,$v" }
      Files.writeString(new java.io.File(dir, s"$nm.csv").toPath,
        ("timestamp,n0" +: rows).mkString("\n"))
    }
    val report = Main.run(spark, dir.getAbsolutePath, objNames = Seq("qps"))
    assert(report.startsWith("# Metrics advisor report"))
    assert(report.contains("| bucket |"))
    // the reference's deliverable also carries the normalized series of
    // every plotted signal, and its 0.005 variance gate must keep the
    // flat candidate out of the whole report
    assert(report.contains("## Normalized series per anomalous bucket"))
    assert(!report.contains("disk"), "flat signal leaked into the report")
  }

  test("driver-read headers give the same signals as Spark's header inference") {
    val dir = Files.createTempDirectory("metrics_hdr").toFile
    def rows(n: Int, cols: Int) =
      (0 until n).map(i => (s"${1640588307L + i * 15}" +: (1 to cols).map(c => s"${i * c + 0.5}")).mkString(","))
    val files = Seq(
      // colon name: read through the sanitized symlink
      "node_cpu:by_instance.csv" -> ("timestamp,host1:9100,host2:9100" +: rows(25, 2)),
      // a quoted header cell holding the delimiter
      "quoted.csv" -> ("timestamp,\"db,primary\",replica" +: rows(25, 2)),
      // duplicate and empty header cells: Spark renames them (dup1, dup2, _c3)
      "dups.csv" -> ("timestamp,dup,dup,,x" +: rows(25, 4)),
      // no value column at all: skipped
      "only_ts.csv" -> ("timestamp" +: (0 until 25).map(i => s"${1640588307L + i * 15}")),
      // exactly minSamples rows: below the > minSamples gate
      "edge.csv" -> ("timestamp,h" +: rows(20, 1)))
    for ((name, lines) <- files)
      Files.writeString(new java.io.File(dir, name).toPath, lines.mkString("\n"))
    val got = MetricsCsv.read(spark, dir.getAbsolutePath, minSamples = 20)
      .as[(String, String, Long, Double)].collect().sorted.toSeq
    // per file: Spark's own header inference, melted and gated the same way
    val linkDir = Files.createTempDirectory("metrics_hdr_ref")
    val want = files.flatMap { case (name, _) =>
      val link = linkDir.resolve(name.replace(":", "__"))
      Files.createSymbolicLink(link, new java.io.File(dir, name).toPath)
      val df = spark.read.option("header", "true").csv(link.toUri.toString)
      val melted = df.columns.filter(_ != "timestamp").toSeq.flatMap { c =>
        df.select(lit(name.stripSuffix(".csv")), lit(c),
            col("timestamp").cast("long"), col(s"`$c`").cast("double"))
          .as[(String, String, Long, Option[Double])].collect().toSeq
          .collect { case (m, node, t, Some(v)) if !v.isNaN => (m, node, t, v) }
      }
      melted.groupBy(r => (r._1, r._2)).values.filter(_.size > 20).flatten
    }.sorted
    assert(got == want)
    assert(got.map(_._2).toSet ==
      Set("host1:9100", "host2:9100", "db,primary", "replica", "dup1", "dup2", "_c3", "x"))
  }

  test("Main.run names the report's own objectives in the Granger section") {
    val dir = Files.createTempDirectory("metrics_granger").toFile
    val rng = new scala.util.Random(23)
    val n = 96
    val drv = Array.tabulate(n)(_ => rng.nextGaussian() * 5.0)
    val obj = new Array[Double](n)
    for (t <- 2 until n)
      obj(t) = 0.3 * obj(t - 1) + 0.9 * drv(t - 2) + rng.nextGaussian() * 0.2
    val noise = Array.tabulate(n)(_ => rng.nextGaussian() * 5.0)
    for ((nm, vals) <- Seq("qps" -> obj, "queue" -> drv, "noisefloor" -> noise)) {
      val lines = vals.indices.map(i => s"${1640563200L + i * 3600L},${vals(i)}")
      Files.writeString(new java.io.File(dir, s"$nm.csv").toPath,
        ("timestamp,n0" +: lines).mkString("\n"))
    }
    val report = Main.run(spark, dir.getAbsolutePath, objNames = Seq("qps"))
    val granger = report.split("## ").find(_.startsWith("Likely drivers (Granger)"))
    assert(granger.exists(_.contains("| qps/n0 | queue/n0 |")), report)
  }
}
