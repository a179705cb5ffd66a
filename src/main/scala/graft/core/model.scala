package graft.core

/** One step of a DTW warping path
  * (/root/reference/mapping_engine.py:286-293). Periods carried as ISO
  * strings for stable cross-engine output. */
final case class PathStep(
    idx1: Int,
    idx2: Int,
    period1: String,
    period2: String,
    value1: Double,
    value2: Double)

/** Per-entity DTW summary (/root/reference/mapping_engine.py:282-294). */
final case class DtwSummary(
    key: String,
    total_cost: Double,
    num_mappings: Int,
    path: Seq[PathStep])

/** Time granularity of a series. The reference hardcodes months; we
  * parameterize so the same engine aligns daily series (the harness `events`
  * table spans a single month). */
sealed trait PeriodUnit { def name: String }
object PeriodUnit {
  case object Day extends PeriodUnit { val name = "day" }
  case object Month extends PeriodUnit { val name = "month" }
  def parse(s: String): PeriodUnit = s.toLowerCase match {
    case "day"   => Day
    case "month" => Month
    case other   => throw new IllegalArgumentException(s"unknown period unit: $other")
  }
}

/** Engine configuration, mirroring the reference's MappingConfig defaults
  * (/root/reference/mapping_engine.py:69-91) with Spark-first additions. */
final case class MappingConfig(
    method: String = "auto",              // correlation | dtw | auto
    maxLag: Int = 6,
    minCorrelation: Double = 0.3,         // mapping_engine.py:76
    autoCorrThreshold: Double = 0.7,      // hardcoded split, mapping_engine.py:693-699
    minOverlap: Int = 2,                  // corr needs >=2 overlapping points, mapping_engine.py:136-149
    periodUnit: PeriodUnit = PeriodUnit.Month,
    dtwWindow: Option[Int] = None,        // Sakoe-Chiba band, mapping_engine.py:186-189
    dtwNormalize: Boolean = true,
    maxSeriesLength: Int = 100000,        // guard: per-key series must fit in one task
    // Explicitly broadcast per-entity summary tables in join-backs (the
    // reference's choice, mapping_engine.py:617). One row per entity: set
    // false at very high entity counts (e.g. >10M keys) and AQE picks the
    // join strategy from runtime sizes instead.
    broadcastSummaries: Boolean = true) {
  require(
    Set("correlation", "dtw", "auto").contains(method),
    s"method must be correlation|dtw|auto, got $method") // mapping_engine.py:90-91
  require(maxLag >= 0, "maxLag must be >= 0")
}
