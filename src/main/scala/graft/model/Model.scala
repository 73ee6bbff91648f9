package graft.model

import org.apache.spark.sql.types._

/** Core data model for the engine.
  *
  * Recasts the reference's abstractions (see SURVEY.md §1):
  *   - audio source/track  -> SequenceRow (pre-tokenized training sequence)
  *   - Transform           -> TransformSpec (declarative feature-extraction spec,
  *                            reference: runner/FeatureExtractionManager.h:96-115)
  *   - Feature             -> FeatureRow (reference: runner/DefaultFeatureWriter.cpp:54-73)
  *   - OutputDescriptor    -> OutputDescriptor (reference: FeatureExtractionManager.cpp:359-366)
  *   - summary types       -> SummaryType ADT (reference: FeatureExtractionManager.cpp:118-131)
  */

/** Input row, schema fixed by BASELINE.json input_hint:
  * (doc_id: string, tokens: array<int32>, n_tok: int32, source: string). */
final case class SequenceRow(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

object SequenceRow {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)))
}

/** One feature event on an entity timeline. `ts` is integer nanoseconds —
  * the reference uses RealTime with ns resolution and fixed a 1ns rounding
  * bug in 1.5 (CHANGELOG:47-48); float time would fail its goldens. */
final case class FeatureRow(
    doc_id: String,
    transform_id: String,
    ts: Long,                       // nanoseconds
    duration: Option[Long],         // nanoseconds; None = extends to next feature
    values: Array[Float],
    label: String)

/** Output-shape taxonomy pinned by the reference's vamp-test-plugin goldens
  * (tests/test-vamp-test-plugin/expected/, SURVEY.md §1.2). */
sealed trait OutputShape { def id: String }
object OutputShape {
  case object Instants     extends OutputShape { val id = "instants" }      // ts only
  case object CurveOSS     extends OutputShape { val id = "curve-oss" }     // one value per step
  case object CurveFSR     extends OutputShape { val id = "curve-fsr" }     // ts snapped to grid
  case object CurveVSR     extends OutputShape { val id = "curve-vsr" }     // (ts, value) events
  case object GridOSS      extends OutputShape { val id = "grid-oss" }      // vector per step
  case object GridFSR      extends OutputShape { val id = "grid-fsr" }
  case object NotesRegions extends OutputShape { val id = "notes-regions" } // (ts, dur, value, label)
  val all: Seq[OutputShape] =
    Seq(Instants, CurveOSS, CurveFSR, CurveVSR, GridOSS, GridFSR, NotesRegions)
  def fromId(s: String): OutputShape =
    all.find(_.id == s).getOrElse(throw new IllegalArgumentException(s"unknown shape: $s"))
}

/** The nine summary reducers (reference dispatcher:
  * runner/FeatureExtractionManager.cpp:118-131), always computed with
  * continuous-time weighting (`:1008,1057`). `label` reproduces the
  * reference's summary-row annotation (FIXTURES.md §4). */
sealed abstract class SummaryType(val name: String, val label: String, val continuous: Boolean)
object SummaryType {
  case object Count    extends SummaryType("count", "(count)", false)
  case object Min      extends SummaryType("min", "(minimum value)", false)
  case object Max      extends SummaryType("max", "(maximum value)", false)
  case object Sum      extends SummaryType("sum", "(sum)", false)
  case object Mean     extends SummaryType("mean", "(mean value, continuous-time average)", true)
  case object Median   extends SummaryType("median", "(median value, continuous-time average)", true)
  case object Mode     extends SummaryType("mode", "(modal value, continuous-time average)", true)
  case object Variance extends SummaryType("variance", "(variance, continuous-time average)", true)
  case object Sd       extends SummaryType("sd", "(standard deviation, continuous-time average)", true)
  val all: Seq[SummaryType] = Seq(Count, Min, Max, Sum, Mean, Median, Mode, Variance, Sd)
  def fromName(s: String): SummaryType =
    all.find(_.name == s).getOrElse(throw new IllegalArgumentException(s"unknown summary: $s"))
}

/** Taper window functions supported by the reference
  * (runner/FeatureExtractionManager.cpp:155-180); Gaussian/Parzen are
  * unsupported there and fall back to Hann with a warning — we mirror that. */
sealed abstract class WindowShape(val name: String)
object WindowShape {
  case object Rectangular    extends WindowShape("rectangular")
  case object Bartlett       extends WindowShape("bartlett")
  case object Hamming        extends WindowShape("hamming")
  case object Hanning        extends WindowShape("hanning")
  case object Blackman       extends WindowShape("blackman")
  case object Nuttall        extends WindowShape("nuttall")
  case object BlackmanHarris extends WindowShape("blackman-harris")
  val all: Seq[WindowShape] = Seq(Rectangular, Bartlett, Hamming, Hanning,
    Blackman, Nuttall, BlackmanHarris)
  /** Unknown names fall back to Hanning, like the reference. */
  def fromName(s: String): WindowShape =
    all.find(_.name == s.toLowerCase).getOrElse(Hanning)
}

/** Declarative transform spec; value-equal, ordered record (the reference
  * keys plugin-instance sharing and deterministic execution order on it,
  * runner/FeatureExtractionManager.h:96-115). Times in nanoseconds. */
final case class TransformSpec(
    id: String,
    plugin: String,                       // feature-extractor name in our registry
    output: String = "",                  // "" = default output (reference: output 0)
    stepSize: Int = 0,                    // 0 = plugin default
    blockSize: Int = 0,
    windowType: WindowShape = WindowShape.Hanning,
    sampleRate: Double = 0.0,             // 0 = source default
    start: Long = 0L,                     // ns
    duration: Long = 0L,                  // ns; 0 = to end
    parameters: Map[String, Double] = Map.empty,
    program: String = "",
    summaryType: Option[SummaryType] = None) {
  /** Key under which transforms share one computation: equal up to
    * output + summary (reference "vital optimisation",
    * FeatureExtractionManager.cpp:227-258). */
  def sharingKey: TransformSpec = copy(id = "", output = "", summaryType = None)
}

object TransformSpec {
  /** Positions per second of a transform that sets no `sample_rate`. */
  val DefaultRate = 1000.0

  /** Deterministic ordering mirroring the reference's ordered Transform keys
    * (reproducible runs, FeatureExtractionManager.h:100-108). */
  implicit val ordering: Ordering[TransformSpec] =
    Ordering.by(t => (t.plugin, t.output, t.id, t.stepSize, t.blockSize))
}

/** Per-output schema descriptor (reference OutputDescriptor). */
final case class OutputDescriptor(
    identifier: String,
    name: String,
    shape: OutputShape,
    binCount: Int,
    binNames: Seq[String] = Nil,
    unit: String = "",
    sampleRate: Double = 0.0)
