package graft.summaries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Windows

/** The continuous-time span pre-pass of the reference's summary reducers
  * (SURVEY.md §2.4). The nine reducers themselves run once per group in
  * [[VectorSummaries.summarizeVector]] (per bin; a scalar feature is a
  * one-bin array), reached through `Engine.summarize`.
  *
  * Weighting rule (verbatim spec in the reference fixture
  * /root/reference/tests/test-summaries/expected/testplug-curve-vsr-mean.csv:1-11):
  * if a feature lacks duration, it extends until the timestamp of the
  * following feature; the FINAL feature extends until the end of the input
  * or the last-ending output, whichever is later. Features with explicit
  * durations span exactly their duration. All continuous-time reducers
  * integrate over these spans. The rule is the fill-ends rule of
  * [[graft.operators.Windows.fillEnds]] with that end as the last end.
  *
  * Dispatcher in the reference: runner/FeatureExtractionManager.cpp:118-131;
  * always invoked with ContinuousTimeAverage (`:1008,1057`).
  */
object Summaries {

  /** Append `w_end` / `w` (span) columns to a feature timeline. The
    * entity-wide last end and the fill-ends `lead` share one hash
    * exchange on the entity and one sort on (entity, transform, ts).
    *
    * @param features    (entityCol, [transformCol,] tsCol, [durationCol,] valueCol…)
    * @param inputEnd    optional end-of-input column (e.g. per-entity stream
    *                    length); the final span extends to
    *                    greatest(inputEnd, last end across ALL transforms of
    *                    the entity) — the cross-output dependency flagged in
    *                    SURVEY.md §7.4.
    */
  def withSpans(
      features: DataFrame,
      entityCol: String,
      transformCol: Option[String],
      tsCol: String,
      durationCol: Option[String] = None,
      inputEnd: Option[Column] = None): DataFrame = {
    val ownEnd = durationCol match {
      case Some(d) => coalesce(col(tsCol) + col(d), col(tsCol))
      case None    => col(tsCol)
    }
    // last-ending output across the whole entity (all transforms). The
    // whole-partition frame makes the order irrelevant to the value; it
    // is the fill-ends `lead` window's (entity, transform, ts), so both
    // windows run over one sort
    val lastEnd = max(ownEnd).over(Window.partitionBy(col(entityCol))
      .orderBy((transformCol.toSeq :+ tsCol).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    val globalEnd = inputEnd match {
      case Some(e) => greatest(lastEnd, e)
      case None    => lastEnd
    }
    Windows.fillEnds(features, entityCol +: transformCol.toSeq, tsCol,
        durationCol, Some(globalEnd))
      .withColumnRenamed("end_ts", "w_end")
      .withColumn("w", (col("w_end") - col(tsCol)).cast("double"))
  }
}
