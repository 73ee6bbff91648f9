package graft.engine

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.SummaryType
import graft.sinks.{CsvSink, JsonSink, MidiSink, Output, RdfSink, XmlSink}
import graft.sources.Tables

/** spark-submit entry point mirroring the reference CLI surface
  * (runner/main.cpp:283-386):
  *
  *   graft.engine.Main
  *     --input PATH [--recursive] [--manifest PATH]
  *     --transforms FILE[.json|.xml] (repeatable)
  *     [--default-transform PLUGIN[:OUTPUT]]          (-d)
  *     --writer csv|jams|rdf|midi|xml|parquet --output PATH
  *     [--summaries s1,s2] [--summary-only]           (-S)
  *     [--segments a,b,...] [--segments-from FILE]
  *     [--normalize]                                  (-n)
  *     [--one-file] [--force] [--append] [--omit-filename]
  *     [--fill-ends] [--end-times] [--sample-timing]
  *     [--digits N] [--separator C]
  *     [--checkpoint-buckets N]                       (resumable run)
  *     [--list] [--skeleton PLUGIN]
  *
  * Construction order mirrors the reference lifecycle (SURVEY.md §3):
  * parse CLI -> transform compile -> destination pre-flight -> source
  * expansion -> one shared-scan DAG -> extract -> summaries -> flush.
  * Every writer refuses an existing output unless --force or --append
  * ([[graft.sinks.Output]]).
  * A run that writes features AND summaries (no --summary-only, no
  * --checkpoint-buckets) materializes the extracted features once and
  * feeds both sinks from those rows.
  */
object Main {

  case class Config(
      input: String = "",
      recursive: Boolean = false,
      manifest: Option[String] = None,
      transformFiles: Seq[String] = Nil,
      defaultTransform: Option[String] = None,
      writer: String = "csv",
      output: String = "",
      summaries: Seq[SummaryType] = Nil,
      summaryOnly: Boolean = false,
      segments: Seq[Long] = Nil,
      normalize: Boolean = false,
      multiplex: Boolean = false,
      oneFile: Boolean = false,
      csv: CsvSink.Options = CsvSink.Options(),
      checkpointBuckets: Int = 0,
      contaminationCheck: Option[String] = None,
      dropContaminated: Boolean = false,
      contaminationThreshold: Double = 0.9,
      redact: Boolean = false,
      redactColumn: String = "text",
      segmentDedup: Boolean = false,
      segmentDelimiter: String = "\n",
      epochShuffle: Option[Long] = None,
      batchSize: Long = 1024L,
      keyColumn: String = "doc_id",
      list: Boolean = false,
      skeleton: Option[String] = None,
      help: Boolean = false)

  /** Usage text (the reference's --help, runner/main.cpp:119-234). */
  val usage: String =
    """graft.engine.Main — Spark-native batch feature extraction
      |
      |usage: spark-submit --class graft.engine.Main <jar>
      |  --input PATH [--recursive] [--manifest PATH]
      |  --transforms FILE[.n3|.ttl|.xml|.json]   (repeatable)
      |  [--default-transform PLUGIN[:OUTPUT]]
      |  --writer csv|jams|rdf|midi|xml|parquet --output PATH
      |  [--summaries s1,s2] [--summary-only]
      |  [--segments a,b,...] [--segments-from FILE]
      |  [--normalize] [--multiplex]
      |  [--one-file] [--force] [--append] [--omit-filename]
      |      (every writer refuses an existing output unless --force
      |      replaces it or --append adds to it)
      |  [--fill-ends] [--end-times] [--sample-timing]
      |  [--digits N] [--separator C]
      |  [--checkpoint-buckets N]
      |  [--contamination-check BENCH_PATH]   (train/test overlap: exact-hash
      |      pre-pass UNION banded-minhash near-dup; writes a JSONL report,
      |      one line per benchmark doc, to --output)
      |  [--drop-contaminated]   (with --contamination-check: write the
      |      surviving corpus as parquet to --output, report beside it)
      |  [--contamination-threshold X]   (drop confidence, default 0.9)
      |  [--redact]   (PII redaction over a raw parquet document table:
      |      email/phone/IPv4 rule chain adds n_<rule>/n_redacted/
      |      redacted_text columns, parquet out at --output)
      |  [--redact-column NAME]   (text column for --redact and
      |      --segment-dedup, default "text")
      |  [--segment-dedup]   (line-level keep-first dedup over a raw
      |      parquet document table: each segment survives only at its
      |      first (key, position) occurrence corpus-wide; docs are
      |      reassembled in order with an n_kept column, parquet out)
      |  [--segment-delimiter S]   (segment split string, default "\n")
      |  [--epoch-shuffle E]   (deterministic epoch shuffle: adds
      |      epoch_pos + batch as a pure function of (key, epoch E) —
      |      retry/resume-stable global training order, parquet out)
      |  [--batch-size N]   (with --epoch-shuffle, default 1024)
      |  [--key-column NAME]   (unique non-negative integral id column
      |      for --segment-dedup/--epoch-shuffle, default "doc_id")
      |  [--list] [--skeleton PLUGIN] [--help]
      |""".stripMargin

  def parseArgs(args: Seq[String]): Config = {
    if (args.isEmpty)
      // reference fidelity (tests/test-helpfulflags): bare invocation is
      // an ERROR that points at --help, not a silent default run
      throw new IllegalArgumentException(
        "no arguments given; use --help for help")
    def loop(rest: List[String], c: Config): Config = rest match {
      case Nil => c
      case "--help" :: _ => c.copy(list = false, skeleton = None, help = true)
      case "--input" :: v :: t => loop(t, c.copy(input = v))
      case "--recursive" :: t => loop(t, c.copy(recursive = true))
      case "--manifest" :: v :: t => loop(t, c.copy(manifest = Some(v)))
      case "--transforms" :: v :: t =>
        loop(t, c.copy(transformFiles = c.transformFiles :+ v))
      case "--default-transform" :: v :: t =>
        loop(t, c.copy(defaultTransform = Some(v)))
      case "--writer" :: v :: t => loop(t, c.copy(writer = v))
      case "--output" :: v :: t => loop(t, c.copy(output = v))
      case "--summaries" :: v :: t =>
        loop(t, c.copy(summaries = v.split(",").toSeq.map(SummaryType.fromName)))
      case "--summary-only" :: t => loop(t, c.copy(summaryOnly = true))
      case "--segments" :: v :: t =>
        loop(t, c.copy(segments =
          v.split(",").toSeq.map(s => TransformSpecs.parseTime(s))))
      case "--segments-from" :: v :: t =>
        loop(t, c.copy(segments = TransformSpecs.parseSegments(
          Files.readString(Paths.get(v)))))
      case "--normalize" :: t => loop(t, c.copy(normalize = true))
      case "--multiplex" :: t => loop(t, c.copy(multiplex = true))
      case "--one-file" :: t => loop(t, c.copy(oneFile = true))
      case "--force" :: t => loop(t, c.copy(csv = c.csv.copy(force = true)))
      case "--append" :: t => loop(t, c.copy(csv = c.csv.copy(append = true)))
      case "--omit-filename" :: t =>
        loop(t, c.copy(csv = c.csv.copy(omitFilename = true)))
      case "--fill-ends" :: t => loop(t, c.copy(csv = c.csv.copy(fillEnds = true)))
      case "--end-times" :: t => loop(t, c.copy(csv = c.csv.copy(endTimes = true)))
      case "--sample-timing" :: t =>
        loop(t, c.copy(csv = c.csv.copy(sampleTiming = true)))
      case "--digits" :: v :: t => loop(t, c.copy(csv = c.csv.copy(digits = v.toInt)))
      case "--separator" :: v :: t =>
        loop(t, c.copy(csv = c.csv.copy(separator = v)))
      case "--checkpoint-buckets" :: v :: t =>
        loop(t, c.copy(checkpointBuckets = v.toInt))
      case "--contamination-check" :: v :: t =>
        loop(t, c.copy(contaminationCheck = Some(v)))
      case "--drop-contaminated" :: t =>
        loop(t, c.copy(dropContaminated = true))
      case "--contamination-threshold" :: v :: t =>
        loop(t, c.copy(contaminationThreshold = v.toDouble))
      case "--redact" :: t => loop(t, c.copy(redact = true))
      case "--redact-column" :: v :: t =>
        loop(t, c.copy(redactColumn = v))
      case "--segment-dedup" :: t => loop(t, c.copy(segmentDedup = true))
      case "--segment-delimiter" :: v :: t =>
        loop(t, c.copy(segmentDelimiter = v))
      case "--epoch-shuffle" :: v :: t =>
        loop(t, c.copy(epochShuffle = Some(v.toLong)))
      case "--batch-size" :: v :: t =>
        loop(t, c.copy(batchSize = v.toLong))
      case "--key-column" :: v :: t =>
        loop(t, c.copy(keyColumn = v))
      case "--list" :: t => loop(t, c.copy(list = true))
      case "--skeleton" :: v :: t => loop(t, c.copy(skeleton = Some(v)))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }
    loop(args.toList, Config())
  }

  def loadSpecs(c: Config): Seq[graft.model.TransformSpec] = {
    val fromFiles = c.transformFiles.flatMap { f =>
      // lenient decode (malformed bytes -> U+FFFD), NOT Files.readString:
      // binary garbage must reach the transform parsers and get their
      // diagnostics, not die in the charset decoder
      val text = new String(Files.readAllBytes(Paths.get(f)),
        java.nio.charset.StandardCharsets.UTF_8)
      // dispatch on extension; extensionless files follow the reference's
      // parse order — try RDF first, then XML, then (ours) JSON
      // (runner/FeatureExtractionManager.cpp:482-605). startsWith
      // sniffing misroutes valid Turtle that opens with a <URI> subject
      // or a # comment, so actually TRY the parsers in order.
      if (f.endsWith(".n3") || f.endsWith(".ttl")) TransformSpecs.parseN3(text)
      else if (f.endsWith(".xml")) Seq(TransformSpecs.parseXml(text))
      else if (f.endsWith(".json")) TransformSpecs.parseJson(text)
      else {
        // LAZY chain: each later parser runs only if the earlier ones
        // failed (a valid .n3 shouldn't pay a DOM + Jackson parse); on
        // total failure report EVERY parser's diagnosis, like the
        // reference (the garbage.dat expected file pins both the RDF
        // and XML reports)
        scala.util.Try(TransformSpecs.parseN3(text)) match {
          case scala.util.Success(s) => s
          case scala.util.Failure(en3) =>
            scala.util.Try(Seq(TransformSpecs.parseXml(text))) match {
              case scala.util.Success(s) => s
              case scala.util.Failure(exml) =>
                scala.util.Try(TransformSpecs.parseJson(text)) match {
                  case scala.util.Success(s) => s
                  case scala.util.Failure(ejson) =>
                    throw new IllegalArgumentException(
                      s"$f is not a recognizable transform file:\n" +
                        s"  RDF attempt: ${en3.getMessage}\n" +
                        s"  XML attempt: ${exml.getMessage}\n" +
                        s"  JSON attempt: ${ejson.getMessage}")
                }
            }
        }
      }
    }
    val fromDefault = c.defaultTransform.map { d =>
      // -d plugin[:output] — skeleton transform (runner/main.cpp:704-719)
      val parts = d.split("@")
      val pluginAndOut = parts(0)
      val idx = pluginAndOut.lastIndexOf(":")
      val (plugin, output) =
        if (idx > 0 && !Engine.registry.contains(pluginAndOut) &&
            Engine.registry.contains(pluginAndOut.substring(0, idx)))
          (pluginAndOut.substring(0, idx), pluginAndOut.substring(idx + 1))
        else (pluginAndOut, "")
      graft.model.TransformSpec(id = d, plugin = plugin, output = output)
    }
    val specs0 = fromFiles ++ fromDefault
    // unknown plugins fail here, before any input is opened
    specs0.foreach(s => Engine.extractor(s.plugin))
    if (c.summaries.nonEmpty)
      // CLI-wide -S: one summary spec per (transform, type), sharing the
      // transform's extraction pass (FeatureExtractionManager.cpp:998-1011)
      specs0.flatMap(s => c.summaries.map(t =>
        s.copy(id = s"${s.id}:${t.name}", summaryType = Some(t))))
    else specs0
  }

  /** Run with an externally provided session (testable). */
  def run(spark: SparkSession, c: Config): Unit = {
    if (c.help) { println(usage); return }
    if (c.list) { Engine.list.foreach(println); return }
    c.skeleton.foreach { p => println(TransformSpecs.skeleton(p)); return }
    require(c.input.nonEmpty, "--input required")
    require(c.output.nonEmpty, "--output required")
    // the pipeline modes are mutually exclusive — a silently-ignored
    // second flag would run the wrong job (ADVICE r5)
    val modeFlags = Seq(
      "--contamination-check" -> c.contaminationCheck.nonEmpty,
      "--redact" -> c.redact,
      "--segment-dedup" -> c.segmentDedup,
      "--epoch-shuffle" -> c.epochShuffle.nonEmpty).filter(_._2).map(_._1)
    require(modeFlags.size <= 1,
      s"conflicting pipeline modes: ${modeFlags.mkString(" and ")} — pass at most one")
    if (c.contaminationCheck.nonEmpty) { runContamination(spark, c); return }
    if (c.redact) { runRedact(spark, c); return }
    if (c.segmentDedup) { runSegmentDedup(spark, c); return }
    if (c.epochShuffle.nonEmpty) { runEpochShuffle(spark, c); return }
    // compile transforms BEFORE touching the input (reference lifecycle:
    // transform parse errors and "no transforms given" precede source
    // opening — a missing input path must not mask a transform mistake)
    val specs = loadSpecs(c)
    require(specs.nonEmpty, "no transforms given (--transforms/--default-transform)")
    val policy = c.csv.policy
    val wantSummaries = specs.exists(_.summaryType.nonEmpty)
    val writesFeatures = !c.summaryOnly || !wantSummaries
    val summariesTarget = if (c.summaryOnly) c.output
      else c.output.stripSuffix(".csv") + "_summaries.csv"
    // K9: fixed destinations fail before extraction; the per-file writers
    // check each name before their first write; bucket runs resume
    val featuresTarget = c.writer match {
      case "csv" if c.oneFile => Some(c.output)
      case "parquet" if c.checkpointBuckets == 0 => Some(c.output)
      case "jams" | "rdf" | "xml" => Some(c.output)
      case "csv" | "midi" | "parquet" => None
      case w => throw new IllegalArgumentException(s"unknown writer: $w")
    }
    (featuresTarget.filter(_ => writesFeatures) ++
      Some(summariesTarget).filter(_ => wantSummaries))
      .foreach(Output.requireFree(spark, _, policy))

    var seqs = sources(spark, c)
    if (c.multiplex) {
      // reference --multiplex (runner/main.cpp:1158-1167): all selected
      // sources become ONE multi-channel input; we zip + mean-mixdown.
      // Driver collects only the id list (the selection, not the data).
      // multiplex zips ALL selected inputs into one multi-channel row
      // (reference: N files -> one N-channel stream); bound the collect so
      // a misdirected full-table run fails fast instead of OOMing the
      // driver or building a 10^6-ary zip
      val ids = seqs.select(col("doc_id").cast("string")).distinct()
        .orderBy("doc_id").limit(4097).collect().map(_.getString(0)).toSeq
      require(ids.size <= 4096,
        "--multiplex combines all selected inputs into ONE sequence; " +
          "more than 4096 docs selected — narrow the selection (--manifest)")
      val mixed = graft.operators.Multiplex.mixdown(
        graft.operators.Multiplex.multiplex(
          seqs.withColumn("doc_id", col("doc_id").cast("string")), ids),
        "channels")
      seqs = mixed.select(col("doc_id"),
        transform(col("mixed"), v => round(v).cast("int")).as("tokens"),
        col("n_tok"), lit("multiplex").as("source"))
        // materialize: the mixed sequence is ONE row per multiplex group,
        // but its tokens column is a deep interpreted-HOF chain (zip, pad,
        // mean-mixdown); downstream frame fan-out would re-evaluate that
        // chain per frame row (BENCH/BASELINE.md perf rule 2). Breaking
        // lineage here makes extraction read a concrete array instead.
        .localCheckpoint(true)
    }

    var features = Engine.run(seqs, specs)
    if (c.normalize) {
      // peak normalisation (reference -n): scale each (doc, transform)'s
      // feature values so the absolute max is 1.0 (the reference scales
      // the input samples; for integer tokens the analog is value-space)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("transform_id"))
      val peak = max(array_max(transform(col("values"),
        v => abs(v.cast("double"))))).over(w)
      features = features
        .withColumn("__peak", peak)
        .withColumn("values",
          when(col("__peak") > 0,
            transform(col("values"), v => (v.cast("double") / col("__peak")).cast("float")))
            .otherwise(col("values")))
        .drop("__peak")
    }
    // Catalyst does not fuse separate actions: a run that writes the
    // features AND summarizes them would extract every sharing pass twice.
    // Materialize once and feed both sinks the same rows, as the
    // reference feeds its writers and summarizer from one block loop
    // (FeatureExtractionManager.cpp:943-1011). Not in bucket mode: each
    // bucket's job must compute only its own docs, or a resumed run would
    // redo every bucket inside bucket 0's job.
    if (!c.summaryOnly && wantSummaries && c.checkpointBuckets == 0)
      features = graft.operators.Checkpointing.materialize(features)

    // per-(doc, transform) end of input in ns (n_tok positions at the
    // spec's rate): the reference's file duration / end-of-input rule.
    // ONE scan of seqs for all K specs: the per-spec rates ride in a
    // literal struct array exploded per row (a K-way union re-scanned
    // the table once per spec — review finding).
    val rates = specs.map(sp => sp.id -> Engine.registry(sp.plugin).resolve(sp)._3).toMap
    def inputEnds(): DataFrame = {
      val perSpec = array(specs.map { sp =>
        struct(lit(sp.id).as("transform_id"),
          lit(1e9 / rates(sp.id)).as("ns_per_pos"))
      }: _*)
      seqs.select(col("doc_id").cast("string").as("doc_id"),
          col("n_tok"), explode(perSpec).as("sp"))
        .select(col("doc_id"), col("sp.transform_id").as("transform_id"),
          (col("n_tok").cast("double") * col("sp.ns_per_pos")).cast("long")
            .as("input_end_ns"))
    }

    // specs with effective step/block/rate filled in, for metadata-bearing
    // sinks (the reference reports the transform's RESOLVED values)
    def resolvedSpecs(): Seq[graft.model.TransformSpec] = specs.map { sp =>
      Engine.registry.get(sp.plugin).fold(sp) { ex =>
        val (st, bl, r) = ex.resolve(sp)
        val out = if (sp.output.nonEmpty) sp.output
          else ex.outputs.head.identifier
        sp.copy(stepSize = st, blockSize = bl, sampleRate = r, output = out)
      }
    }

    def writeFeatures(): Unit = c.writer match {
      case "parquet" =>
        if (c.checkpointBuckets > 0) {
          Checkpoint.runBuckets(spark, c.output, c.checkpointBuckets,
            Map("input" -> c.input,
              "transforms" -> specs.map(_.id).mkString(","))) { b =>
            features.where(Checkpoint.bucketOf("doc_id", c.checkpointBuckets) === b)
          }
          ()
        } else features.write.mode(Output.saveMode(policy))
          // K5 layout analog: the reference AudioDB writer emits one file
          // per (track, output) (runner/AudioDBFeatureWriter.cpp:107-218);
          // hive-partitioning by (transform, output) gives one DIRECTORY
          // per output stream — and partition pruning on read
          .partitionBy("transform_id", "output")
          .parquet(c.output)
      case "csv" =>
        val lines = CsvSink.formatFeatures(
          features.withColumn("doc_id", col("doc_id").cast("string")), c.csv, rates)
        if (c.oneFile) Output.oneFile(lines, c.output, policy)
        else Output.filePerKey(CsvSink.trackFiles(lines), c.output, policy)
      case "jams" =>
        // JSONL, one document per line across the plan's part files: a
        // one-task funnel would be the sink bottleneck at corpus scale
        JsonSink.toJams(features.withColumn("doc_id", col("doc_id").cast("string")),
          resolvedSpecs(), c.csv.digits, Some(inputEnds()),
          specs.flatMap(sp => Engine.registry.get(sp.plugin)
            .map(ex => sp.id -> ex.version.toString)).toMap)
          .select("jams").write.mode(Output.saveMode(policy)).text(c.output)
      case "rdf" =>
        // dense (one-sample-per-step) outputs take the windowed-timeline
        // value-matrix form, sparse outputs stay timed events — the
        // reference's RDF writer routes per output descriptor the same way
        val dense = specs.flatMap { s =>
          Engine.registry.get(s.plugin).flatMap { ex =>
            val out = if (s.output.nonEmpty) s.output
              else ex.outputs.head.identifier
            ex.outputsFor(s).find(_.identifier == out).collect {
              case d if d.shape == graft.model.OutputShape.CurveOSS ||
                  d.shape == graft.model.OutputShape.GridOSS =>
                val (st, bl, r) = ex.resolve(s)
                s.id -> ((st, bl, r))
            }
          }
        }.toMap
        RdfSink.writeTurtle(
          features.withColumn("doc_id", col("doc_id").cast("string")),
          specs, c.output, policy, dense)
      case "midi" =>
        Output.filePerKey(MidiSink.docFiles(MidiSink.toNotes(
          features.withColumn("doc_id", col("doc_id").cast("string")),
          unitIsHz = false)), c.output, policy)
      case "xml" =>
        Output.oneFile(XmlSink.toXmlRows(features).select(
          col("doc_id").cast("string").as("doc_id"), col("transform_id"),
          col("ts"), col("xml").as("line")), c.output, policy)
    }

    if (writesFeatures) writeFeatures()
    if (wantSummaries) {
      // the reference extends the final durationless feature to the end
      // of the input, not just to the last feature
      val sums = Engine.summarize(
        features.withColumn("doc_id", col("doc_id").cast("string")),
        specs, c.segments, Some(inputEnds()))
      val lines = CsvSink.formatSummaries(
        sums.withColumn("doc_id", col("doc_id").cast("string")), c.csv)
      Output.oneFile(lines, summariesTarget, policy)
    }
  }

  /** The `--input` selection, recursive or not, narrowed by `--manifest`. */
  private def sources(spark: SparkSession, c: Config): DataFrame = {
    val all =
      if (c.recursive) Tables.sequencesRecursive(spark, c.input)
      else Tables.sequences(spark, c.input)
    c.manifest.fold(all)(m => Tables.fromManifest(all, spark.read.parquet(m)))
  }

  /** `--contamination-check BENCH_PATH` (VERDICT r4 #7): the train/test
    * overlap operator every pipeline runs, reachable without writing
    * Scala. Corpus = the normal `--input` selection (recursive/manifest
    * respected); benchmark = a sequences-schema table at BENCH_PATH.
    * Detection composes the library's two-pass design (exact-hash
    * pre-pass, immune to the LSH bucket cap, UNION banded-minhash
    * near-dup candidates at the operator defaults); the per-benchmark-doc
    * REPORT is written as distributed JSONL; with `--drop-contaminated`
    * the surviving corpus lands as parquet at `--output` (anti join — the
    * only touch on the corpus) and the report beside it at
    * `<output>_contamination`. */
  private def runContamination(spark: SparkSession, c: Config): Unit = {
    import graft.operators.Dedup
    val corpus = sources(spark, c)
    val bench = Tables.sequences(spark, c.contaminationCheck.get)
    val exact = Dedup.exactMatchesAcross(corpus, bench, "doc_id", "tokens")
      .withColumn("est_jaccard", lit(1.0))
    val near = Dedup.minhashLshPairsAcross(corpus, bench, "doc_id", "tokens")
    val pairs = exact.unionByName(near)
      .groupBy("id_l", "id_r").agg(max(col("est_jaccard")).as("est_jaccard"))
    // the pair table is bounded by true overlap (tiny next to the
    // corpus); cache it when both the report and the drop consume it
    if (c.dropContaminated) pairs.cache()
    val report = Dedup.contaminationReport(pairs)
      .select(to_json(struct(col("id_r").cast("string").as("bench_id"),
        col("n_matches"), col("max_est_jaccard"),
        transform(col("matched_ids"), i => i.cast("string"))
          .as("matched_ids"))).as("line"))
    val mode = Output.saveMode(c.csv.policy)
    val reportPath =
      if (c.dropContaminated) c.output.stripSuffix("/") + "_contamination"
      else c.output
    report.write.mode(mode).text(reportPath)
    if (c.dropContaminated) {
      Dedup.dropContaminated(corpus, "doc_id",
        pairs.where(col("est_jaccard") >= c.contaminationThreshold))
        .write.mode(mode).parquet(c.output)
      pairs.unpersist()
    }
  }

  /** `--redact`: the PII redaction chain reachable without writing
    * Scala. Reads `--input` as a RAW parquet table (any schema carrying
    * the text column — this mode takes documents, not the sequences
    * projection), applies [[graft.operators.Redact.defaultRules]], and
    * writes the input columns plus n_<rule>/n_redacted/redacted_text as
    * parquet at `--output`. Map-only end to end: no shuffle is
    * introduced, so partitioning/pruning of the input carries through. */
  private def runRedact(spark: SparkSession, c: Config): Unit = {
    val df = spark.read.parquet(c.input)
    require(df.columns.contains(c.redactColumn),
      s"--redact: input has no '${c.redactColumn}' column " +
        s"(columns: ${df.columns.mkString(", ")})")
    val mode = Output.saveMode(c.csv.policy)
    graft.operators.Redact.redact(df, c.redactColumn)
      .write.mode(mode).parquet(c.output)
  }

  /** `--segment-dedup`: corpus-wide line-level keep-first dedup over a
    * raw parquet document table. Splits the text column on
    * `--segment-delimiter`, runs [[graft.operators.Dedup.dedupSegmentsKeepFirst]]
    * (first (key, position) occurrence survives), and writes (key,
    * n_kept, reassembled text) as parquet. All-repeat docs stay visible
    * with n_kept = 0. */
  private def runSegmentDedup(spark: SparkSession, c: Config): Unit = {
    import org.apache.spark.sql.functions.{array_join, split => fsplit}
    val df = spark.read.parquet(c.input)
    require(df.columns.contains(c.redactColumn),
      s"--segment-dedup: input has no '${c.redactColumn}' column " +
        s"(columns: ${df.columns.mkString(", ")})")
    require(df.columns.contains(c.keyColumn),
      s"--segment-dedup: input has no '${c.keyColumn}' column")
    val segs = df.select(col(c.keyColumn),
      fsplit(col(c.redactColumn),
        java.util.regex.Pattern.quote(c.segmentDelimiter)).as("__segs"))
    val mode = Output.saveMode(c.csv.policy)
    // empty/whitespace-only segments are EXEMPT from the election:
    // Spark's split keeps empty strings, so without the exemption every
    // blank line (and trailing-newline empty segment) beyond the first
    // in the corpus would be removed, silently collapsing paragraph
    // boundaries — C4/RefinedWeb line dedup passes trivial lines through
    // (ADVICE r5)
    graft.operators.Dedup.dedupSegmentsKeepFirst(segs, c.keyColumn, "__segs",
      passThrough = Some(s => trim(s) === ""))
      .select(col(c.keyColumn), col("n_kept"),
        array_join(col("kept_segments"), c.segmentDelimiter)
          .as(c.redactColumn))
      .write.mode(mode).parquet(c.output)
  }

  /** `--epoch-shuffle E`: the deterministic (key, epoch)-pure training
    * order + batch assignment ([[graft.operators.Sampling.epochShuffle]])
    * over any parquet table with a unique non-negative integral key. */
  private def runEpochShuffle(spark: SparkSession, c: Config): Unit = {
    val df = spark.read.parquet(c.input)
    require(df.columns.contains(c.keyColumn),
      s"--epoch-shuffle: input has no '${c.keyColumn}' column " +
        s"(columns: ${df.columns.mkString(", ")})")
    val mode = Output.saveMode(c.csv.policy)
    graft.operators.Sampling
      .epochShuffle(df, c.keyColumn, c.epochShuffle.get, c.batchSize)
      .write.mode(mode).parquet(c.output)
  }

  def main(args: Array[String]): Unit = {
    val c =
      try parseArgs(args.toSeq)
      catch {
        // IOException too: --segments-from with a missing file must hit
        // the clean exit-2 path, not a raw NoSuchFileException trace
        case e @ (_: IllegalArgumentException | _: java.io.IOException) =>
          System.err.println(s"ERROR: ${e.getMessage}")
          System.err.println("use --help for help")
          sys.exit(2)
      }
    if (c.help) { println(usage); return } // no session needed
    val spark = SparkSession.builder()
      .appName("graft-engine")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, c) finally spark.stop()
  }
}
