package mapbench

import java.time.LocalDate
import java.util.Random

/** Shape of one workload's synthetic input. Lengths and starts count
  * periods: months when `monthly`, days otherwise. */
final case class GenSpec(
    entities: Int,
    monthly: Boolean,
    baseLen: Int,
    lenJitter: Double,     // length drawn from baseLen * (1 ± lenJitter)
    longShare: Double,     // entities whose series is longFactor × baseLen
    longFactor: Int,
    startSpread: Int,      // series start drawn from [0, startSpread]
    gapRate: Double,       // per (table, entity, period) chance the row is missing
    dupRate: Double,       // per observation chance it is split into two rows
    constantShare: Double, // table1 series is one repeated value
    shortShare: Double,    // fewer than 3 periods
    newShare: Double,      // entities absent from the stored model
    simpleShare: Double,
    complexShare: Double,  // irregular takes the rest
    simpleNoise: Double,
    complexNoise: Double,
    irregularNoiseMax: Double)

/** One generated entity. `lag` is the planted lag (simple, irregular) or
  * the dominant term of the mix (complex). */
final case class Entity(
    key: String,
    archetype: String,
    lag: Int,
    constant: Boolean,
    short: Boolean,
    long: Boolean,
    isNew: Boolean)

/** One raw input row: entity index, period index, value. */
final case class Obs(entity: Int, period: Int, value: Double)

final class Generated(
    val spec: GenSpec,
    val seed: Long,
    val entities: Array[Entity],
    val t1: Array[Obs],
    val t2: Array[Obs]) {

  /** SHA-256 over both raw tables, row by row. */
  lazy val digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(16)
    def feed(rows: Array[Obs], tag: Byte): Unit = {
      md.update(tag)
      rows.foreach { o =>
        bb.clear()
        bb.putInt(o.entity).putInt(o.period).putDouble(o.value)
        md.update(bb.array())
      }
    }
    feed(t1, 1)
    feed(t2, 2)
    md.digest().map(b => f"$b%02x").mkString
  }

  def shares: Seq[(String, Double)] = {
    val n = entities.length.toDouble
    def share(p: Entity => Boolean) = entities.count(p) / n
    Seq(
      "simple" -> share(_.archetype == "simple"),
      "complex" -> share(_.archetype == "complex"),
      "irregular" -> share(_.archetype == "irregular"),
      "constant" -> share(_.constant),
      "short" -> share(_.short),
      "long" -> share(_.long),
      "new_to_model" -> share(_.isNew))
  }

  def periodDate(p: Int): LocalDate = Gen.periodDate(spec.monthly, p)
}

/** Seeded generator of the two long tables, after the reference's
  * synthetic fixtures: simple (planted lag 0-3), complex (multi-lag mix)
  * and irregular (sinusoid, random lag 0-2) archetypes with Gaussian
  * noise and values kept >= 0, plus gaps, duplicate rows, constant and
  * too-short series, skewed lengths and entities new to the model. */
object Gen {
  val MonthOrigin: LocalDate = LocalDate.of(2022, 1, 1)
  val DayOrigin: LocalDate = LocalDate.of(2023, 1, 1)

  def periodDate(monthly: Boolean, p: Int): LocalDate =
    if (monthly) MonthOrigin.plusMonths(p.toLong) else DayOrigin.plusDays(p.toLong)

  /** 'yyyy-MM' for monthly inputs. */
  def monthString(p: Int): String = {
    val d = periodDate(monthly = true, p)
    f"${d.getYear}%04d-${d.getMonthValue}%02d"
  }

  private val Warmup = 3 // history before the first period, for lagged terms

  /** SplitMix64 finalizer over (seed, i): independent streams for
    * neighbouring entities, which plain `seed + i` seeding does not give. */
  def mix(seed: Long, i: Int): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + (i + 1) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // irrational steps of the low-discrepancy sequences behind [[evenly]]
  private val Steps = Array(0.6180339887498949, 0.4142135623730951, 0.7320508075688772, 0.2360679774997898,
    0.1415926535897931)

  /** Draw `k` for entity `i`: a seed-shifted low-discrepancy sequence, so
    * every share in the spec is met to within an entity or two on every
    * seed. Seeds then change which entities are which, and their values,
    * but not the mix — which keeps the work per job steady across seeds. */
  private def evenly(seed: Long, i: Int, k: Int): Double = {
    val x = (mix(seed, -2 - k) >>> 11) / 9007199254740992.0 + i * Steps(k)
    x - math.floor(x)
  }

  def generate(spec: GenSpec, seed: Long): Generated = {
    val parts = (0 until spec.entities).map(i => entity(spec, seed, i))
    new Generated(spec, seed, parts.map(_._1).toArray, parts.flatMap(_._2).toArray, parts.flatMap(_._3).toArray)
  }

  /** Entity `i` and its rows in table1 and table2. Depends only on
    * (spec, seed, i), so executors can generate disjoint slices. */
  def entity(spec: GenSpec, seed: Long, i: Int): (Entity, Array[Obs], Array[Obs]) = {
    val t1 = Array.newBuilder[Obs]
    val t2 = Array.newBuilder[Obs]
    val r = new Random(mix(seed, i))
    val u = evenly(seed, i, 0)
    val arch =
      if (u < spec.simpleShare) "simple"
      else if (u < spec.simpleShare + spec.complexShare) "complex"
      else "irregular"
    val constant = evenly(seed, i, 1) < spec.constantShare
    val short = !constant && evenly(seed, i, 2) < spec.shortShare
    val long = !short && evenly(seed, i, 3) < spec.longShare
    val isNew = evenly(seed, i, 4) < spec.newShare
    val len =
      if (short) 2
      else if (long) spec.baseLen * spec.longFactor
      else math.max(3, math.round(spec.baseLen * (1 + spec.lenJitter * (2 * r.nextDouble() - 1))).toInt)
    val start = if (spec.startSpread > 0) r.nextInt(spec.startSpread + 1) else 0
    val level = 100 + 900 * r.nextDouble()
    val rate = 0.05 + 0.1 * r.nextDouble()
    val phase = 2 * math.Pi * r.nextDouble()
    val lag = arch match {
      case "simple"  => r.nextInt(4)
      case "complex" => 1
      case _         => r.nextInt(3)
    }
    val noise = arch match {
      case "simple"  => spec.simpleNoise
      case "complex" => spec.complexNoise
      case _         => spec.irregularNoiseMax * r.nextDouble()
    }
    // latent signal: AR(1) around the entity's level
    val x = new Array[Double](len + Warmup)
    var ar = 0.0
    var t = 0
    while (t < x.length) {
      ar = 0.8 * ar + r.nextGaussian()
      val seasonal = if (arch == "irregular") 1 + 0.2 * math.sin(2 * math.Pi * t / 12 + phase) else 1.0
      x(t) = if (constant) level else math.max(0.0, level * (1 + 0.25 * ar) * seasonal)
      t += 1
    }
    def drv(tt: Int): Double = x(tt + Warmup)
    t = 0
    while (t < len) {
      val p = start + t
      val v1 = if (constant) level else math.max(0.0, drv(t) + 0.02 * level * r.nextGaussian())
      val signal = arch match {
        case "complex" => 0.5 * drv(t - 1) + 0.3 * drv(t - 2) + 0.2 * drv(t - 3)
        case _         => drv(t - lag)
      }
      val v2 = math.max(0.0, rate * signal + noise * rate * level * r.nextGaussian())
      val keep = short || constant
      if (keep || r.nextDouble() >= spec.gapRate) emit(t1, i, p, v1, r, spec.dupRate, !constant)
      if (keep || r.nextDouble() >= spec.gapRate) emit(t2, i, p, v2, r, spec.dupRate, !constant)
      t += 1
    }
    (Entity(f"E$i%06d", arch, lag, constant, short, long, isNew), t1.result(), t2.result())
  }

  /** Emit one observation, split into two rows summing to it with
    * probability `dupRate` (the engine sums duplicates at ingest). */
  private def emit(
      out: scala.collection.mutable.Builder[Obs, Array[Obs]],
      e: Int,
      p: Int,
      v: Double,
      r: Random,
      dupRate: Double,
      allowDup: Boolean): Unit =
    if (allowDup && r.nextDouble() < dupRate) {
      val f = 0.2 + 0.6 * r.nextDouble()
      out += Obs(e, p, v * f)
      out += Obs(e, p, v * (1 - f))
    } else out += Obs(e, p, v)
}
