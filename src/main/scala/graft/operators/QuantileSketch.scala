package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DDSketch-style log-bucket quantile sketch (Masson et al., "DDSketch:
  * a fast and fully-mergeable quantile sketch with relative-error
  * guarantees", VLDB 2019): values bucket by ⌈log_γ v⌉ with
  * γ = (1+α)/(1−α), so returning the bucket's midpoint-of-ratio
  * estimate 2γ^i/(γ+1) for the bucket holding the target rank is
  * within RELATIVE error α of the true quantile — the
  * latency-percentile primitive a monitoring plane runs on.
  *
  * Chosen over KLL deliberately: the state is a bucket→count map, so
  * merging is plain ADDITION — merge-order-insensitive (a KLL
  * compactor's output depends on merge order, which Spark's partial
  * aggregation does not fix), exact-integer, bounded, and the whole
  * path is expressible in ANSI SQL, which makes the batch face fully
  * DuckDB-oracle-able rather than rows-only. The one cross-engine
  * float hazard is ⌈ln v/ln γ⌉ flipping at a bucket boundary, which
  * needs an engine's libm `ln` to differ in the last ulp exactly at a
  * near-integer quotient — the stats_benford floor-of-log precedent.
  *
  * Scale shape (batch face): one map-side-combined
  * groupBy((group, bucket)) corpus pass — the bucketing itself is a
  * pure codegen projection — then cumulative windows PARTITIONED per
  * group over the bucket frame, bounded by |groups|·O(log_γ range)
  * (α = 2% ⇒ ~820 buckets across a 1..10⁷ cents range).
  *
  * Values must be POSITIVE (the log bucketing's domain); rows with
  * v ≤ 0 are excluded from the sketch, mirroring the DuckDB oracle's
  * WHERE v > 0. */
object QuantileSketch {

  /** γ for a relative-error budget given in basis points of relative
    * error (α = alphaBp/10⁴): γ = (1+α)/(1−α). */
  def gamma(alphaBp: Int): Double = {
    require(alphaBp >= 1 && alphaBp <= 2000,
      s"alphaBp must be in [1, 2000]: $alphaBp")
    (10000.0 + alphaBp) / (10000.0 - alphaBp)
  }

  /** Bucket index of a positive value: ⌈ln v / ln γ⌉ (bucket i covers
    * (γ^(i−1), γ^i]) — the scalar form of the projection
    * [[ddQuantiles]] runs as a Column expression; QuantileSketchSpec
    * pins the bucket containment and the α bound through it. */
  def bucketOf(v: Long, lnGamma: Double): Long = {
    require(v > 0, s"sketch values must be positive: $v")
    math.ceil(math.log(v.toDouble) / lnGamma).toLong
  }

  /** Midpoint-of-ratio estimate for a bucket: 2γ^i/(γ+1), computed as
    * exp(i·ln γ) — the same fixed-order formula [[ddQuantiles]] and
    * the SQL oracle use. */
  def estimateOf(bucket: Long, alphaBp: Int): Double = {
    val g = gamma(alphaBp)
    2.0 * math.exp(bucket.toDouble * math.log(g)) / (g + 1.0)
  }

  /** Per-group sketch quantiles: for each (num, den) rational q the
    * PERCENTILE_DISC rank ⌈q·n⌉ picks its bucket off the cumulative
    * bucket frame and the output column (named by `names`, rounded 4)
    * carries the bucket's estimate — relative error ≤ α vs the exact
    * order statistic (pinned in QuantileSketchSpec).
    *
    * Output: (group…, n — positive-value count, names…). */
  def ddQuantiles(df: DataFrame, groupCols: Seq[String],
      centsCol: String, alphaBp: Int, qs: Seq[(Long, Long)],
      names: Seq[String]): DataFrame = {
    require(qs.nonEmpty && qs.size == names.size,
      s"one name per quantile: $qs / $names")
    qs.foreach { case (num, den) =>
      require(num > 0 && num <= den, s"quantile must be in (0, 1]: $num/$den") }
    val g = gamma(alphaBp)
    val lnG = math.log(g)
    val gc = groupCols.map(col)
    val buckets = df
      .filter(col(centsCol).cast("long") > 0)
      .select(gc :+ ceil(log(col(centsCol).cast("double")) / lit(lnG))
        .cast("long").as("bk"): _*)
      .groupBy(gc :+ col("bk"): _*)
      .agg(count(lit(1)).as("cnt"))
    val wOrd = Window.partitionBy(gc: _*).orderBy(col("bk"))
    val wAll = Window.partitionBy(gc: _*)
    val cum = buckets
      .withColumn("cum", sum(col("cnt")).over(wOrd))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val picks = qs.zip(names).map { case ((num, den), name) =>
      min(when(col("cum") >=
        expr(s"(n * $num + ${den - 1}) div $den"), col("bk")))
        .as(s"__b_$name") }
    val agg = cum.groupBy(gc: _*)
      .agg(max(col("n")).as("n"), picks: _*)
    names.foldLeft(agg) { (d, name) =>
      d.withColumn(name,
          round(lit(2.0) * exp(col(s"__b_$name").cast("double") *
            lit(lnG)) / lit(g + 1.0), 4))
        .drop(s"__b_$name")
    }
  }
}
