package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark workload. `setup` prepares inputs and warms the JVM (both
  * count in setup_s); `pass` is one timed unit of work, run by the single
  * closed-loop client for the measurement window, each followed by an
  * untimed `verify` (correctness checks, recorded as "check" ops). `extra`
  * adds workload-specific metrics of the given passes, keyed by name. */
trait Workload {
  /** Typical length of one pass on a 4-core machine: a run makes
    * `seconds / nominalPassS` passes. */
  def nominalPassS: Double
  def setup(): Unit
  def pass(p: Int): Unit
  def verify(p: Int): Unit = ()
  def extra(passes: Seq[Int]): Map[String, Double] = Map.empty
}

/** Shared context of a run: session, recorder, input dir, scratch dir. */
final case class Ctx(spark: SparkSession, rec: Recorder, data: String, work: String,
    seed: Long)

object Util {
  /** Order-insensitive content hash of a DataFrame: (rows, Σ row-hash mod
    * 2^31-1). Doubles are rendered to 9 significant digits first (and
    * -0.0 folded into 0.0), nested values through JSON, so the hash does
    * not depend on the summation order of a parallel aggregate. */
  def rowHash(df: DataFrame): (Long, Long) = {
    def norm(f: StructField): Column = f.dataType match {
      case DoubleType | FloatType =>
        format_string("%.9g", col(f.name).cast(DoubleType) + lit(0.0))
      case _: ArrayType | _: MapType | _: StructType => to_json(col(f.name))
      case _ => col(f.name)
    }
    val cols = df.schema.fields.toSeq.map(norm)
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(2147483647L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Total bytes of the regular files under `dir` (0 if absent). */
  def dirBytes(dir: java.io.File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).getOrElse(Array.empty).map(dirBytes).sum

  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }
}
