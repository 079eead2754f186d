package graft.syncbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Everything a workload needs from the launcher. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    rec: Option[Trace.Recorder], work: String, report: Report,
    processStartNs: Long) {
  def traced: Boolean = rec.isDefined

  def region[T](body: => T): (T, Trace.Region) =
    Trace.region(rec, spark)(body)

  /** A fresh (emptied) directory under the run's work dir. */
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    Files.rm(d)
    d.getParentFile.mkdirs()
    d.getAbsolutePath
  }

  def sinceStartS: Double = (System.nanoTime() - processStartNs) / 1e9

  /** Runs `rounds` identical set-up rounds; returns their wall times. */
  def setupRounds(rounds: Int)(round: Int => Unit): Seq[Double] =
    (0 until rounds).map { i =>
      val t0 = System.nanoTime()
      round(i)
      (System.nanoTime() - t0) / 1e9
    }
}

object Files {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  /** Bytes of the parquet data files under `root`. */
  def parquetBytes(root: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length()
      else 0L
    walk(new java.io.File(root))
  }
}

/** Writes generated rows as the master root's parquet measurements. */
object Master {
  def schemaOf(withStr: Boolean): StructType = StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("host", StringType), StructField("region", StringType),
    StructField("f_float", DoubleType), StructField("f_int", LongType),
    StructField("f_uint", DecimalType(20, 0)),
    StructField("f_bool", BooleanType)) ++
    (if (withStr) Seq(StructField("f_str", StringType)) else Nil))

  def writeRows(spark: SparkSession, path: String, m: Gen.Meas,
      rows: Seq[Gen.Row], append: Boolean): Unit = {
    val data = rows.map { r =>
      val base = Seq[Any](r.ts, r.host, r.region, r.fFloat, r.fInt,
        r.fUint, r.fBool)
      Row.fromSeq(if (m.withStr) base :+ r.fStr else base)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1),
      schemaOf(m.withStr))
      .write.mode(if (append) "append" else "errorifexists").parquet(path)
  }

  /** The seeded master root of `shape`, under `root`. */
  def write(spark: SparkSession, seed: Long, shape: Gen.Shape,
      root: String): Unit =
    shape.meas.foreach { m =>
      writeRows(spark, s"$root/${m.rel}", m,
        Gen.rows(seed, m, shape, shape.startNs, shape.endNs), append = false)
    }
}
