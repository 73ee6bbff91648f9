package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.TransformSpec

/** RDF/Turtle feature writer (K6) mirroring the reference RDF writer's
  * graph shape (runner/FeatureWriterFactory.cpp:21,48-49; golden
  * /root/reference/tests/test-summaries/expected/summaries-from-rdf.n3):
  *
  *   :transform_<id>  vamp:plugin/output/step_size/... ; a vamp:Transform.
  *   <file://doc>     mo:encodes :signal_<doc> ; a mo:AudioFile.
  *   :signal_<doc>    mo:time [ tl:onTimeLine :signal_timeline_<doc> ].
  *   :event_<doc>_<n> event:time [ tl:at "PT…S"^^xsd:duration ;
  *                    tl:onTimeLine … ] ; vamp:computed_by :transform_<id>.
  *
  * Node ids are deterministic per (doc, transform, row) — NOT a global
  * driver counter like the reference's: ids are arbitrary in RDF (its own
  * test canonicalises with rapper before comparing), and per-partition
  * numbering keeps the formatting fully distributed. The emitted graph
  * round-trips through TransformSpecs.parseN3 (the reference round-trip
  * test shape, tests/test-summaries/test-summaries.sh:75-86).
  */
object RdfSink {

  private val prefixes =
    """@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
      |@prefix mo: <http://purl.org/ontology/mo/> .
      |@prefix af: <http://purl.org/ontology/af/> .
      |@prefix event: <http://purl.org/NET/c4dm/event.owl#> .
      |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |@prefix tl: <http://purl.org/NET/c4dm/timeline.owl#> .
      |@prefix vamp: <http://purl.org/ontology/vamp/> .
      |@prefix graft: <http://graft-engine.org/plugins/> .
      |@prefix : <#> .
      |""".stripMargin

  private def sane(c: Column): Column =
    graft.functions.Scalars.sanitizeId(c)

  private def pt(ns: Column): Column =
    concat(lit("\"PT"), CsvSink.secs9(ns), lit("S\"^^xsd:duration"))

  /** Driver-side transform blocks (tiny; one per spec). */
  def transformBlocks(specs: Seq[TransformSpec]): String =
    specs.map { s =>
      val plugin = s.plugin // registry name doubles as a graft:-prefixed QName
      val params = s.parameters.toSeq.sortBy(_._1).map { case (k, v) =>
        s"""    vamp:parameter_binding [ vamp:parameter [ vamp:identifier "$k" ]; vamp:value "$v" ] ;"""
      }
      (Seq(s":transform_${s.id}") ++
        Seq(s"    vamp:plugin $plugin ;",
          s"    vamp:output ${plugin}_output_${s.output} ;") ++
        (if (s.stepSize > 0) Seq(s"""    vamp:step_size "${s.stepSize}"^^xsd:int ;""") else Nil) ++
        (if (s.blockSize > 0) Seq(s"""    vamp:block_size "${s.blockSize}"^^xsd:int ;""") else Nil) ++
        (if (s.sampleRate > 0) Seq(s"""    vamp:sample_rate "${s.sampleRate}"^^xsd:float ;""") else Nil) ++
        params ++
        s.summaryType.map(t => s"""    vamp:summary_type "${t.name}" ;""").toSeq ++
        Seq("    a vamp:Transform .")).mkString("\n")
    }.mkString("\n\n")

  /** Per-doc file/signal/timeline block (shared by the sparse and dense
    * emitters). */
  private def signalBlockCol: Column = {
    val doc = sane(col("doc_id"))
    concat(
      lit("<file://"), col("doc_id"), lit(">\n    mo:encodes :signal_"), doc,
      lit(" ;\n    a mo:AudioFile .\n\n:signal_"), doc,
      lit("\n    mo:time [\n        tl:onTimeLine :signal_timeline_"), doc,
      lit(" ;\n        a tl:Interval\n    ] ;\n    a mo:Signal .\n\n:signal_timeline_"),
      doc, lit("\n    a tl:Timeline .\n\n"))
  }

  /** Distributed formatting: one Turtle block per feature row, plus one
    * signal/timeline block per doc (emitted with the doc's first row).
    * Returns (doc_id, transform_id, ts, line) for the one-file merger. */
  def formatFeatures(features: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("transform_id"), col("ts"))
    val wEvt = Window.partitionBy(col("doc_id"), col("transform_id"))
      .orderBy(col("ts"))
    val doc = sane(col("doc_id"))
    val signalBlock = signalBlockCol
    val timeBnode = concat(
      lit("    event:time [\n        tl:at "), pt(col("ts")),
      when(col("duration").isNotNull,
        concat(lit(" ;\n        tl:duration "), pt(col("duration")),
          lit(";\n        tl:onTimeLine :signal_timeline_"), doc,
          lit(" ;\n        a tl:Interval\n    ] ;\n")))
        .otherwise(concat(lit(" ;\n        tl:onTimeLine :signal_timeline_"),
          doc, lit(" ;\n        a tl:Instant\n    ] ;\n"))))
    val g = CsvSink.gFormat(6)
    val valueLine = when(size(col("values")) > 0,
      concat(lit("    rdf:value \""),
        array_join(transform(col("values"), v => g(v)), " "),
        lit("\" ;\n"))).otherwise(lit(""))
    val labelLine = when(length(col("label")) > 0,
      concat(lit("    rdfs:label \""), col("label"), lit("\" ;\n")))
      .otherwise(lit(""))
    val eventBlock = concat(
      lit(":event_"), doc, lit("_"), sane(col("transform_id")), lit("_"),
      row_number().over(wEvt).cast("string"), lit("\n"),
      timeBnode, valueLine, labelLine,
      lit("    vamp:computed_by :transform_"), col("transform_id"),
      lit(" ;\n    a af:Feature .\n"))
    features
      .withColumn("line",
        concat(when(row_number().over(wDoc) === 1, signalBlock).otherwise(lit("")),
          eventBlock))
      .select(col("doc_id"), col("transform_id"), col("ts"), col("line"))
  }

  /** Dense-output formatting — the reference's windowed-timeline + value
    * matrix form (RDFFeatureWriter dense mode; the documented shape is
    * /root/reference/feature-description-example.n3:46-82):
    *
    *   :feature_timeline_<doc>_<tid>      a tl:DiscreteTimeLine .
    *   :feature_timeline_map_<doc>_<tid>  a tl:UniformSamplingWindowingMap ;
    *       tl:rangeTimeLine/domainTimeLine ... ;
    *       tl:sampleRate / tl:windowLength / tl:hopSize .
    *   :feature_interval_<doc>_<tid>      a tl:Interval (in HOPS) .
    *   :feature_<doc>_<tid>  mo:time :feature_interval_... ;
    *       af:dimensions "<bins> <frames>" ; af:value "<matrix>" .
    *
    * One output row per (doc, transform): per-group state is the doc's own
    * frames (bounded by doc length, like every per-doc sink path), shuffled
    * once. Returns (doc_id, transform_id, ts=-1, line) rows — the ts=-1
    * sorts the timeline/feature block before any event rows of the same
    * transform in the one-file merge. */
  def formatDenseFeatures(features: DataFrame, spec: TransformSpec,
      step: Int, block: Int, rate: Double): DataFrame = {
    val g = CsvSink.gFormat(6)
    val rateLit =
      if (rate == math.rint(rate)) s""""${rate.toLong}"^^xsd:int"""
      else s""""$rate"^^xsd:float"""
    val grouped = features
      .where(col("transform_id") === spec.id)
      .groupBy(col("doc_id"), col("transform_id"))
      .agg(
        count(lit(1)).as("nframes"),
        max(size(col("values"))).as("nbins"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("ts"), col("values")))),
          s => transform(s.getField("values"), v => g(v)))), " ").as("vals"))
    val doc = sane(col("doc_id"))
    val tid = sane(col("transform_id"))
    val key = concat(doc, lit("_"), tid)
    val line = concat(
      lit(":feature_timeline_"), key, lit("\n    a tl:DiscreteTimeLine .\n\n"),
      lit(":feature_timeline_map_"), key,
      lit("\n    a tl:UniformSamplingWindowingMap ;\n    tl:rangeTimeLine :feature_timeline_"),
      key, lit(" ;\n    tl:domainTimeLine :signal_timeline_"), doc,
      lit(s" ;\n    tl:sampleRate $rateLit ;\n    tl:windowLength " +
        s""""$block"^^xsd:int ;\n    tl:hopSize "$step"^^xsd:int .\n\n"""),
      lit(":feature_interval_"), key,
      lit("\n    a tl:Interval ;\n    tl:onTimeLine :feature_timeline_"), key,
      lit(" ;\n    tl:beginsAt \"0\"^^xsd:int ;\n    tl:duration \""),
      col("nframes").cast("string"),
      lit("\"^^xsd:int .\n\n"),
      lit(":signal_"), doc, lit(" af:signal_feature :feature_"), key, lit(" .\n\n"),
      lit(":feature_"), key,
      lit("\n    mo:time :feature_interval_"), key,
      lit(" ;\n    af:dimensions \""), col("nbins").cast("string"), lit(" "),
      col("nframes").cast("string"),
      lit("\" ;\n    af:value \""), col("vals"),
      lit("\" ;\n    vamp:computed_by :transform_"), col("transform_id"),
      lit(" ;\n    a af:Feature .\n"))
    grouped.select(col("doc_id"), col("transform_id"),
      lit(-1L).as("ts"), line.as("line"))
  }

  /** One Turtle document: prefixes + transform blocks (driver-side) +
    * distributed signal/event blocks merged via the one-file writer.
    *
    * `dense` maps transform id -> (stepSize, blockSize, sampleRate) for
    * transforms whose output is dense (one sample per step): those are
    * written in the windowed-timeline matrix form via
    * [[formatDenseFeatures]]; everything else stays a sparse timed event
    * (the reference routes per output descriptor the same way). */
  def writeTurtle(features: DataFrame, specs: Seq[TransformSpec],
      path: String, policy: Output.Policy,
      dense: Map[String, (Int, Int, Double)] = Map.empty): Unit = {
    val header = features.sparkSession
      .createDataFrame(Seq(("", "", -2L, prefixes + "\n" + transformBlocks(specs) + "\n")))
      .toDF("doc_id", "transform_id", "ts", "line")
    val denseIds = dense.keySet.toSeq.sorted
    val sparseFeat =
      if (denseIds.isEmpty) features
      else features.where(!col("transform_id").isin(denseIds: _*))
    val denseParts = specs.filter(s => dense.contains(s.id)).map { s =>
      val (st, bl, r) = dense(s.id)
      formatDenseFeatures(features, s, st, bl, r)
    }
    // docs whose features are ALL dense still need their signal/timeline
    // block (the sparse formatter attaches it to a doc's first event row);
    // both sides of this anti join are tiny distinct-doc lists
    val denseOnlySignals =
      if (denseIds.isEmpty) None
      else Some(
        features.where(col("transform_id").isin(denseIds: _*))
          .select(col("doc_id").cast("string").as("doc_id")).distinct()
          .join(sparseFeat.select(col("doc_id").cast("string").as("doc_id"))
            .distinct(), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit("").as("transform_id"),
            lit(-2L).as("ts"), signalBlockCol.as("line")))
    val sparsePart =
      if (denseIds.isEmpty) Some(formatFeatures(features))
      else Some(formatFeatures(sparseFeat))
    val parts = Seq(header) ++ denseOnlySignals ++ sparsePart ++ denseParts
    Output.oneFile(parts.reduce(_.unionByName(_)), path, policy)
  }
}
