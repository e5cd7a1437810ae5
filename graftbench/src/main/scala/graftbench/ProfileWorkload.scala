package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.profile.{ProfileConfig, ProfileJson, Profiler, TableProfile}

/** A generated column: its name, type and a per-row value generator
  * (null for a missing cell). */
final case class ColSpec(name: String, dataType: DataType,
    gen: SplittableRandom => Any)

/** `Profiler.profile` then `ProfileJson.toJson` on a seeded table, with
  * exact distinct counts.
  *
  * Ground truth, computed in set-up with one plain Spark aggregate over
  * the written parquet: the row count, and per column the missing count
  * and the exact distinct count. Every op must match all three and render
  * byte-identical JSON on every op of a run. */
final class ProfileWorkload(val name: String, rows: Long, cols: Seq[ColSpec],
    cfg: ProfileConfig, configName: String) extends Workload {

  require(cfg.exactDistinct, "the checks compare exact distinct counts")
  val layer = "profile"
  private var input: DataFrame = _
  private var truthN = 0L
  private var truthMissing = Map.empty[String, Long]
  private var truthDistinct = Map.empty[String, Long]
  private var profile: TableProfile = _
  private var json: String = _
  private var firstJsonDigest: Option[String] = None

  def describe: String =
    s"$rows rows x ${cols.size} cols ($configName config)"

  def setup(spark: SparkSession, dir: String, seed: Long, files: Int): Unit = {
    val schema = StructType(cols.map(c => StructField(c.name, c.dataType)))
    val gens = cols.map(_.gen)
    spark.range(0, rows, 1, files)
      .map { id =>
        val r = new SplittableRandom(Rng.mix(seed, id))
        Row.fromSeq(gens.map(g => g(r)))
      }(Encoders.row(schema))
      .write.mode("overwrite").parquet(dir)
    input = spark.read.parquet(dir)
    val aggs = count(lit(1)) +: cols.flatMap(c =>
      Seq(count(col(c.name)), count_distinct(col(c.name))))
    val t = input.agg(aggs.head, aggs.tail: _*).head()
    truthN = t.getLong(0)
    truthMissing = cols.zipWithIndex.map { case (c, i) =>
      c.name -> (truthN - t.getLong(1 + 2 * i)) }.toMap
    truthDistinct = cols.zipWithIndex.map { case (c, i) =>
      c.name -> t.getLong(2 + 2 * i) }.toMap
  }

  def op(spark: SparkSession, t: Tracer): Unit = {
    profile = t.span("profile.compute") { Profiler.profile(input, cfg) }
    json = t.span("profile.render") { ProfileJson.toJson(profile) }
  }

  def check(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (profile.table.n != truthN)
      errs += s"n ${profile.table.n} != $truthN"
    val byName = profile.columns.map(c => c.name -> c).toMap
    cols.foreach { c =>
      byName.get(c.name) match {
        case None => errs += s"${c.name}: missing from the profile"
        case Some(p) =>
          if (p.common.nMissing != truthMissing(c.name))
            errs += s"${c.name}: n_missing ${p.common.nMissing} != ${truthMissing(c.name)}"
          if (p.common.nDistinct != truthDistinct(c.name))
            errs += s"${c.name}: n_distinct ${p.common.nDistinct} != ${truthDistinct(c.name)}"
      }
    }
    val d = MessageDigest.getInstance("SHA-256").digest(json.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    firstJsonDigest match {
      case None => firstJsonDigest = Some(d)
      case Some(f) if f != d => errs += "report JSON differs from the run's first op"
      case _ =>
    }
    errs.result()
  }

  val spanMetrics: Seq[(String, String)] = Seq(
    "profile.compute" -> "profile.compute_s",
    "profile.render" -> "profile.render_s")

  override val focus: Option[String] = Some("profile.compute")
}

object ProfileWorkload {
  private def nullable(rate: Double)(f: SplittableRandom => Any)
      : SplittableRandom => Any =
    r => if (r.nextDouble() < rate) null else f(r)

  private def money(r: SplittableRandom, scale: Double): Double =
    math.round(r.nextDouble() * scale * 100) / 100.0

  private def pick(vals: IndexedSeq[String]): SplittableRandom => Any =
    r => vals(r.nextInt(vals.size))

  private def words(r: SplittableRandom, vocab: IndexedSeq[String], n: Int) =
    (0 until n).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")

  private val commentVocab = Rng.vocabulary(1000, 20240917L)

  private def day(r: SplittableRandom, span: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(8035L + r.nextInt(span)))

  val flagshipConfig: ProfileConfig = ProfileConfig.default.copy(
    computeSpearman = true, computeKendall = true)

  /** Lineitem-like: 3 long keys of set cardinality, 4 doubles with planted
    * nulls, 2 low-cardinality strings, 1 high-cardinality string, 1 date,
    * 1 boolean. */
  def tallColumns(rows: Long): Seq[ColSpec] = Seq(
    ColSpec("k_order", LongType, r => r.nextLong(math.max(1L, rows / 4))),
    ColSpec("k_part", LongType, r => r.nextLong(20000L)),
    ColSpec("k_supp", LongType, r => r.nextLong(1000L)),
    ColSpec("price", DoubleType, nullable(0.01)(r => 900.0 + money(r, 100000))),
    ColSpec("discount", DoubleType, nullable(0.02)(r => r.nextInt(11) / 100.0)),
    ColSpec("tax", DoubleType, nullable(0.005)(r => r.nextInt(9) / 100.0)),
    ColSpec("quantity", DoubleType, nullable(0.03)(r => (1 + r.nextInt(50)).toDouble)),
    ColSpec("returnflag", StringType, pick(Vector("A", "N", "R"))),
    ColSpec("shipmode", StringType,
      pick(Vector("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"))),
    ColSpec("comment", StringType, r => words(r, commentVocab, 4)),
    ColSpec("shipdate", DateType, r => day(r, 2526)),
    ColSpec("is_late", BooleanType, r => r.nextDouble() < 0.3))

  val TallRows = 40000L

  def tall: ProfileWorkload = new ProfileWorkload("profile_tall", TallRows,
    tallColumns(TallRows), flagshipConfig, "flagship exact: default + Spearman + Kendall")
}
