package graft

import graft.operators.Correlate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The typed NCC kernel (`Correlate.nccLag`) against the relational form
  * it replaced: broadcast obj×lags rows equi-joined to the candidate grid
  * on (bucket, index + lag), DECIMAL moment sums in one hash aggregate.
  * Both must emit the same cells with bit-identical r.
  */
class NccKernelSpec extends SparkTestBase {
  import spark.implicits._

  /** The relational reference: the quantization of `Correlate.withQuant`
    * and the join + aggregate plan, verbatim.
    */
  private def relationalNcc(indexedGrid: DataFrame, objNames: Seq[String],
                            lagMax: Int, minOverlap: Int): DataFrame = {
    val w = Window.partitionBy("name", "node")
    val mRaw = max(abs(col("gval"))).over(w)
    val m = when(mRaw > 0, mRaw).otherwise(lit(1.0))
    val q = indexedGrid.withColumn("qv",
      floor((col("gval") / m) * lit(1e9) + lit(0.5)).cast(DecimalType(18, 0)))
    val obj = q.filter(col("name").isin(objNames: _*))
      .select(col("name").as("obj_name"), col("node").as("obj_node"),
        col("b"), col("i"), col("qv").as("ov"))
    val cand = q.filter(!col("name").isin(objNames: _*))
      .select(col("name").as("cand_name"), col("node").as("cand_node"),
        col("b").as("cb"), col("i").as("ci"), col("qv").as("cv"))
    val moments = Correlate.momentAggs("ov", "cv")
    val objLags = obj.withColumn("lag",
      explode(sequence(lit(-lagMax.toLong), lit(lagMax.toLong))))
    val cells = broadcast(objLags)
      .join(cand, col("ci") === col("i") + col("lag") && col("cb") === col("b"))
      .groupBy("obj_name", "obj_node", "cand_name", "cand_node", "b", "lag")
      .agg(moments.head, moments.tail: _*)
    Correlate.pearsonFromMoments(cells, minOverlap)
  }

  private type Cell = (String, String, String, String, Long, Long, Long, Double)

  private def cells(df: DataFrame): Seq[Cell] =
    df.select("obj_name", "obj_node", "cand_name", "cand_node", "b", "lag", "n", "r")
      .as[Cell].collect().toSeq
      .sortBy(c => (c._1, c._2, c._3, c._4, c._5, c._6))

  /** A random grid over 60 indices in buckets of 10, so ±3 lags cross
    * bucket edges. Signals: full-scale ±M square waves (quantized ±1e9:
    * Σx² over one bucket passes 2^63), signed Gaussian noise, a series
    * constant within some buckets (zero-variance cells), and gappy series
    * whose aligned counts straddle minOverlap.
    */
  private def randomGrid(seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    val bucket = 10L
    def signal(name: String, node: String, keep: Double)(f: Int => Double) =
      (0 until 60).filter(_ => rng.nextDouble() < keep)
        .map(i => (name, node, i.toLong, f(i), i.toLong / bucket * bucket))
    val scale = math.pow(10, rng.nextInt(7) - 3)
    val rows =
      signal("obj", "n0", 1.0)(_ => if (rng.nextBoolean()) scale else -scale) ++
      signal("obj", "n1", 0.9)(_ => rng.nextGaussian() * scale - scale) ++
      signal("cand", "n0", 1.0)(_ => if (rng.nextBoolean()) 1e6 else -1e6) ++
      signal("cand", "n1", 0.8)(i => rng.nextGaussian() * 3.0 + i) ++
      signal("flat", "n0", 1.0)(i => if (i < 30) 7.0 else rng.nextGaussian()) ++
      signal("gappy", "n0", 0.7)(_ => -math.abs(rng.nextGaussian()) * 1e-4)
    rows.toDF("name", "node", "i", "gval", "b")
  }

  test("typed nccLag equals the relational join + DECIMAL aggregate on random grids") {
    for (seed <- 1 to 6) {
      val g = randomGrid(seed).repartition(3, col("name"), col("node"))
      val want = cells(relationalNcc(g, Seq("obj"), lagMax = 3, minOverlap = 8))
      val got = cells(Correlate.nccLag(g, Seq("obj"), lagMax = 3, minOverlap = 8))
      assert(want.nonEmpty)
      val firstDiff = got.zipAll(want, null, null).find { case (a, b) => a != b }
      assert(firstDiff.isEmpty, s"seed $seed: (kernel, reference) first differ at $firstDiff")
      // the fixture reaches every edge it is meant to
      assert(want.exists(c => c._7 == 8L), s"seed $seed: no cell at exactly minOverlap")
      assert(want.exists(c => c._3 == "cand" && c._4 == "n0"), s"seed $seed: full-scale cells")
    }
  }

  test("objective rows without candidates, or no objective rows, give no cells") {
    val g = randomGrid(7)
    assert(Correlate.nccLag(g.filter(col("name") === "obj"), Seq("obj")).count() == 0)
    assert(Correlate.nccLag(g, Seq("absent")).count() == 0)
  }
}
