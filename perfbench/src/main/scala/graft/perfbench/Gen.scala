package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Seeded input generators. Rows are made in plain Scala inside Spark
 * tasks, each partition from its own generator keyed by (seed, op,
 * partition), so a batch is rebuilt bit for bit when its results are
 * checked and no per-batch code reaches Spark's code generator.
 */
object Gen extends Serializable {
  /** The coordinate domain: [0, Side]². */
  val Side = 1000.0

  def rng(seed: Long, op: Long, part: Long): scala.util.Random =
    new scala.util.Random(((seed * 1000003L + op) * 1000033L + part) ^ 0x5DEECE66DL)

  /** Hot centres of every workload. They are fixed, not seeded, so that
   *  how much hot points and hot zones overlap (the join's candidate
   *  amplification and skew) does not change from seed to seed. */
  val hotCentres: Seq[(Double, Double)] = Seq((250.0, 300.0), (700.0, 250.0), (300.0, 750.0), (750.0, 700.0))

  private val pointSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("x", DoubleType, nullable = false), StructField("y", DoubleType, nullable = false)))

  /** (id, x, y) points: `hotFrac` of them Gaussian (sd `sigma`) around
   *  a hot centre, the rest uniform over `region`; clamped to the
   *  domain. Ids are id0 until id0 + n. */
  def points(spark: SparkSession, seed: Long, op: Long, n: Long, id0: Long,
      region: (Double, Double, Double, Double), centres: Seq[(Double, Double)],
      hotFrac: Double, sigma: Double, partitions: Int): DataFrame = {
    val (x0, y0, x1, y1) = region
    val cs = centres.toArray
    def clamp(v: Double) = math.min(math.max(v, 0.0), Side)
    val rows = spark.sparkContext.parallelize(0 until partitions, partitions).flatMap { p =>
      val r = rng(seed, op, p)
      (n * p / partitions until n * (p + 1) / partitions).iterator.map { k =>
        val (x, y) =
          if (r.nextDouble() < hotFrac) {
            val (cx, cy) = cs(r.nextInt(cs.length))
            (cx + sigma * r.nextGaussian(), cy + sigma * r.nextGaussian())
          } else (x0 + (x1 - x0) * r.nextDouble(), y0 + (y1 - y0) * r.nextDouble())
        Row(id0 + k, clamp(x), clamp(y))
      }
    }
    spark.createDataFrame(rows, pointSchema)
  }

  /** A regular k-gon: centre, circumradius, rotation of vertex 0. */
  final case class Ngon(cx: Double, cy: Double, r: Double, k: Int, theta: Double) {
    def vertices: Seq[(Double, Double)] = (0 to k).map { j =>
      val a = theta + 2 * math.Pi * (j % k) / k
      (cx + r * math.cos(a), cy + r * math.sin(a))
    }
    def wkt: String = vertices.map { case (x, y) => s"$x $y" }.mkString("POLYGON((", ", ", "))")
  }

  /** `n` zones: rotated regular 32–128-gons, 40% of them crowded around
   *  the hot centres so that hot cells hold many zones and points. */
  def zones(seed: Long, n: Int, centres: Seq[(Double, Double)]): Seq[Ngon] = {
    val r = rng(seed, -2, 0)
    Seq.fill(n) {
      val (cx, cy) =
        if (r.nextDouble() < 0.4) {
          val (hx, hy) = centres(r.nextInt(centres.size))
          (hx + 40 * r.nextGaussian(), hy + 40 * r.nextGaussian())
        } else (20 + r.nextDouble() * (Side - 40), 20 + r.nextDouble() * (Side - 40))
      val k = 32 + r.nextInt(97)
      Ngon(cx, cy, 6 + r.nextDouble() * 14, k, r.nextDouble() * 2 * math.Pi / k)
    }
  }

  private val docSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Planted-duplicate corpus of `originals + exactDups + nearDups`
   *  docs of `words` words, ids 0 until that total:
   *  - ids below `originals` are distinct docs (each opens with its own
   *    `d<id>` token);
   *  - the next `exactDups` ids copy a random original verbatim;
   *  - the last `nearDups` ids copy distinct originals with the final
   *    word replaced (word 3-shingle Jaccard 27/29 ≈ 0.93).
   *  Every duplicate has a larger id than its original, so exact dedup
   *  keeps `originals + nearDups` docs and near dedup keeps ids
   *  0 until `originals`. */
  def docs(spark: SparkSession, seed: Long, op: Long, originals: Int, exactDups: Int,
      nearDups: Int, words: Int, vocab: Int, partitions: Int): DataFrame = {
    require(nearDups <= originals && originals % Stride != 0)
    val total = originals.toLong + exactDups + nearDups
    def body(src: Long): Seq[String] = {
      val r = rng(seed, op, -1 - src)
      s"d$src" +: Seq.fill(words - 1)(s"w${r.nextInt(vocab)}")
    }
    val rows = spark.sparkContext.parallelize(0 until partitions, partitions).flatMap { p =>
      val r = rng(seed, op, p)
      (total * p / partitions until total * (p + 1) / partitions).iterator.map { id =>
        val text =
          if (id < originals) body(id)
          else if (id < originals + exactDups) body(r.nextInt(originals).toLong)
          else body((id - originals - exactDups) * Stride % originals).init :+ s"v${r.nextInt(vocab)}"
        Row(id, text.mkString(" "))
      }
    }
    spark.createDataFrame(rows, docSchema)
  }

  /** Multiplier that maps near-dup ranks to distinct originals
   *  (prime, so any `originals` it does not divide is a bijection). */
  private val Stride = 7919L
}
