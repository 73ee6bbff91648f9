package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Windowed timeline operators: fill-ends, forward-fill backfill, and
  * gap-based sessionization (north_rule surface).
  *
  * Reference semantics these generalize:
  *   - fill-ends: the CSV/Lab writers' `fill-ends`/`end-times` options set a
  *     feature's end to the NEXT feature's start
  *     (/root/reference/runner/LabFeatureWriter.cpp:117-130,150-152;
  *     goldens tests/test-csv-writer/expected/curve-vsr-fill-ends.csv).
  *   - forward-fill: the summarizer's "value in effect until the next
  *     feature" rule (tests/test-summaries/expected/testplug-curve-vsr-mean.csv:1-11).
  *   - sessionize: `--segments`-style timeline splitting
  *     (/root/reference/runner/main.cpp:734-767), generalized from fixed
  *     boundaries to data-driven gaps.
  *
  * All of these are single-window-pass operators: one hash exchange on the
  * entity key + one sort, then O(1) running state per row — the shape that
  * scales linearly with executors at 10^12 rows.
  */
object Windows {

  def byEntity(entityCol: String, tsCol: String): WindowSpec =
    Window.partitionBy(col(entityCol)).orderBy(col(tsCol).asc)

  /** End-times projection, appended as `end_ts`: end = ts + duration when
    * duration is present, else the next feature's ts on the same
    * `entityCols` timeline, else (last row) `lastEnd` — by default the
    * row's own ts, exactly the reference Lab writer's fill-ends rule
    * (runner/LabFeatureWriter.cpp:150-152,168-177). The summarizer's span
    * rule is the same with the end of input as `lastEnd`
    * (Summaries.withSpans). */
  def fillEnds(df: DataFrame, entityCols: Seq[String], tsCol: String,
      durationCol: Option[String] = None,
      lastEnd: Option[Column] = None): DataFrame = {
    val w = Window.partitionBy(entityCols.map(col): _*).orderBy(col(tsCol).asc)
    val ends = durationCol.map(d => col(tsCol) + col(d)).toSeq ++
      Seq(lead(col(tsCol), 1).over(w), lastEnd.getOrElse(col(tsCol)))
    df.withColumn("end_ts", coalesce(ends: _*))
  }

  /** Forward-fill: replace nulls in `valueCols` with the latest prior
    * non-null value on the same entity timeline (backfill for training
    * tables). One window pass, O(1) state. */
  def forwardFill(df: DataFrame, entityCol: String, tsCol: String,
      valueCols: Seq[String]): DataFrame = {
    val w = byEntity(entityCol, tsCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event exceeds `gap` (same units as tsCol). Appends
    * `session_id` (0-based per entity). Implementation: lag-gap flag +
    * running sum — one window pass. */
  def sessionize(df: DataFrame, entityCol: String, tsCol: String,
      gap: Long): DataFrame = {
    val w = byEntity(entityCol, tsCol)
    val newSession = when(
      col(tsCol).cast("long") - lag(col(tsCol).cast("long"), 1).over(w) > gap, 1L)
      .otherwise(lit(0L))
    df.withColumn("session_id",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Fixed-boundary segmentation (the reference's `--segments a,b,…`,
    * runner/main.cpp:734-767): segment i covers [bᵢ, bᵢ₊₁), everything
    * before the first boundary is segment 0 starting at the stream start,
    * the last segment extends to the end. Appends `seg_start` (long). */
  def segment(df: DataFrame, tsCol: String, boundaries: Seq[Long]): DataFrame = {
    val sorted = boundaries.sorted
    // max boundary <= ts, else 0 (stream start)
    val segExpr = sorted.foldLeft(lit(0L)) { (acc, b) =>
      when(col(tsCol).cast("long") >= b, lit(b)).otherwise(acc)
    }
    df.withColumn("seg_start", segExpr)
  }

  /** Contiguous 1-based global row number by `orderCol` (a UNIQUE total
    * order) WITHOUT the single-partition global window
    * (`row_number().over(Window.orderBy(...))` moves the whole table to
    * one task). Reuses the packing prefix sum: range-partition on the
    * order key, per-partition running count, one driver row per
    * partition, broadcast offsets — one range exchange total, every
    * partition does O(its rows) work. */
  def globalRowNumber(df: DataFrame, orderCol: String,
      outCol: String = "pos"): DataFrame =
    Packing.packGreedy(df.withColumn("__one", lit(1L)),
        orderCol, "__one", Long.MaxValue)
      .withColumn(outCol, col("pack_start") + 1L)
      .drop("pack_start", "pack_bin", "__one")

  /** Contiguous 1-based PER-GROUP row number by `orderCol` in ONE
    * range-partitioned prefix pass — the fused form of calling
    * [[globalRowNumber]] once per group: N groups otherwise pay N full
    * sample+materialize+offset chains over the same stream, and a plain
    * `row_number().over(partitionBy(group))` funnels each group into a
    * single task (the hot-key trap). One range exchange on the order
    * key, per-partition running counts per group, one driver row per
    * (partition, group), broadcast offsets back.
    *
    * Memory: each task keeps one running count per distinct group of its
    * partition (a hash-map entry), so executor memory is O(distinct
    * groups per partition), independent of the rows per group; the
    * driver holds one offset row per (partition, group), capped at
    * `maxOffsetRows`. */
  def globalRowNumberByGroup(df: DataFrame, groupCol: String,
      orderCol: String, outCol: String = "pos"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType, IntegerType}
    // fail-loudly conventions: no silent column clobbering, and the
    // (partition, group) offset collect below is bounded by an explicit
    // guard rather than a comment (see maxOffsetRows)
    val clash = Seq(outCol, "__pid", "__gcount", "__opid", "__g", "__offset")
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"globalRowNumberByGroup output columns already exist: ${clash.mkString(", ")}")
    val spark = df.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(n, col(orderCol))
      .sortWithinPartitions(orderCol)
      .withColumn("__pid", spark_partition_id())
    val outSchema = ranged.schema.add("__gcount", LongType, nullable = false)
    val gIdx = ranged.schema.fieldIndex(groupCol)
    // materialize pins the range-sampler's partition boundaries for both
    // the offsets job and the output job (same rule as Packing.packGreedy)
    val local = Checkpointing.materialize(ranged.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[Any, Long]
      it.map { r =>
        val g = r.get(gIdx)
        val c = counts.getOrElse(g, 0L) + 1L
        counts(g) = c
        Row.fromSeq(r.toSeq :+ c)
      }
    }(Encoders.row(outSchema)))
    // one row per (partition, group): explicitly BOUNDED — a
    // high-cardinality group column would otherwise drive an unbounded
    // driver collect; limit N+1 + require fails fast (the Main
    // --multiplex convention) instead of OOMing mid-collect
    val maxOffsetRows = 1000000
    val totals = local.groupBy(col("__pid"), col(groupCol))
      .agg(max(col("__gcount")).as("__t"))
      .limit(maxOffsetRows + 1)
      .collect()
    require(totals.length <= maxOffsetRows,
      s"globalRowNumberByGroup: over $maxOffsetRows (partition, group) " +
        "offset rows — the group column is too high-cardinality for the " +
        "fused prefix pass; use globalRowNumber per group or a window")
    if (totals.isEmpty)
      return local.withColumn(outCol, lit(0L))
        .drop("__pid", "__gcount")
    // driver prefix sum per group over ascending partition id
    val byGroup = totals.groupBy(_.get(1))
    val offsetRows = byGroup.valuesIterator.flatMap { rows =>
      val sorted = rows.sortBy(_.getInt(0))
      val prefix = sorted.map(_.getLong(2)).scanLeft(0L)(_ + _).init
      sorted.zip(prefix).map { case (r, off) => Row(r.getInt(0), r.get(1), off) }
    }.toSeq
    val offSchema = StructType(Seq(StructField("__opid", IntegerType),
      StructField("__g", df.schema(groupCol).dataType),
      StructField("__offset", LongType)))
    val jl = new java.util.ArrayList[Row](offsetRows.size)
    offsetRows.foreach(jl.add)
    val offsetDf = spark.createDataFrame(jl, offSchema)
    local.join(broadcast(offsetDf),
      col("__pid") === col("__opid") && col(groupCol) <=> col("__g"))
      .withColumn(outCol, col("__offset") + col("__gcount"))
      .drop("__pid", "__gcount", "__opid", "__g", "__offset")
  }

  /** Per-session aggregation convenience: sessionize then aggregate. */
  def sessionStats(df: DataFrame, entityCol: String, tsCol: String,
      gap: Long, valueCol: String): DataFrame = {
    sessionize(df, entityCol, tsCol, gap)
      .groupBy(col(entityCol), col("session_id"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("sum_value"))
  }
}
