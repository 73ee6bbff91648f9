package graft.engine

import javax.xml.parsers.DocumentBuilderFactory
import java.io.ByteArrayInputStream
import scala.util.Try
import graft.model.{SummaryType, TransformSpec, WindowShape}

/** Transform-spec compilation: XML (the reference's one-transform XML form,
  * /root/reference/transforms/percussiononsets.xml:1-4), JSON (our native
  * multi-transform form, replacing the reference's RDF/Turtle), and the
  * sloppy segment-boundary list parser (/root/reference/runner/main.cpp:551-603).
  *
  * Times parse to integer nanoseconds (reference RealTime, 9-decimal
  * seconds; durations also accept the n3 fixtures' "PT2.0S" xsd:duration
  * form, tests/.../percussiononsets-start-and-duration.n3:14-15). */
object TransformSpecs {

  private val NsPerSec = 1e9

  /** "2.5" or "PT2.5S" -> nanoseconds. */
  def parseTime(s: String): Long = {
    val t = s.trim
    val num =
      if (t.toUpperCase.startsWith("PT") && t.toUpperCase.endsWith("S"))
        t.substring(2, t.length - 1)
      else t
    math.round(num.toDouble * NsPerSec)
  }

  /** Reference XML form: one <transform> element, attributes + nested
    * <parameter name= value=/>. The id attribute is the plugin id; an
    * optional output attribute selects the output (default: first). */
  def parseXml(xml: String): TransformSpec = {
    // Error-message fidelity (reference tests/test-parse-errors/expected/
    // *.xml.txt): malformed XML reports "XML parser reported: …"; valid
    // XML whose root is not <transform> reports "valid XML but defines
    // no transform".
    val doc =
      try DocumentBuilderFactory.newInstance().newDocumentBuilder()
        .parse(new ByteArrayInputStream(xml.getBytes("UTF-8")))
      catch { case e: org.xml.sax.SAXException =>
        throw new IllegalArgumentException(
          s"XML parser reported: ${e.getMessage}", e)
      }
    val el = doc.getDocumentElement
    require(el.getTagName == "transform",
      s"valid XML but defines no transform (root <${el.getTagName}>, " +
        "expected <transform>)")
    def attr(name: String, default: String = ""): String = {
      val v = el.getAttribute(name); if (v == null || v.isEmpty) default else v
    }
    val params = {
      val nodes = el.getElementsByTagName("parameter")
      (0 until nodes.getLength).map { i =>
        val p = nodes.item(i).asInstanceOf[org.w3c.dom.Element]
        p.getAttribute("name") -> p.getAttribute("value").toDouble
      }.toMap
    }
    TransformSpec(
      id = attr("id"),
      plugin = attr("plugin", attr("id")),
      output = attr("output"),
      stepSize = attr("stepSize", "0").toInt,
      blockSize = attr("blockSize", "0").toInt,
      windowType = WindowShape.fromName(attr("windowType", "hanning")),
      sampleRate = attr("sampleRate", "0").toDouble,
      start = parseTime(attr("startTime", "0")),
      duration = parseTime(attr("duration", "0")),
      parameters = params,
      program = attr("program"),
      summaryType = Option(attr("summary_type"))
        .filter(_.nonEmpty).map(SummaryType.fromName))
  }

  /** JSON form: `[{"id": ..., "plugin": ..., "output": ..., "step_size": n,
    * "block_size": n, "window_type": s, "sample_rate": r, "start": t,
    * "duration": t, "parameters": {..}, "summary_type": s}, ...]` —
    * the multi-transform analog of the reference's n3 files
    * (tests/test-summaries/transforms/detectionfunction.n3:6-30). */
  def parseJson(json: String): Seq[TransformSpec] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val parsed =
      try JsonMethods.parse(json)
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"JSON parser reported: ${e.getMessage}", e)
      }
    val arr = parsed match {
      case JArray(xs) => xs
      case obj: JObject => List(obj)
      case other => throw new IllegalArgumentException(
        s"valid JSON but defines no transforms (expected an object or " +
          s"array of transform objects, got $other)")
    }
    arr.zipWithIndex.map { case (j, i) =>
      def str(k: String, d: String = ""): String =
        (j \ k).extractOpt[String].getOrElse(d)
      def num(k: String, d: Double = 0.0): Double =
        (j \ k).extractOpt[Double].getOrElse(d)
      TransformSpec(
        id = str("id", s"transform$i"),
        plugin = str("plugin"),
        output = str("output"),
        stepSize = num("step_size").toInt,
        blockSize = num("block_size").toInt,
        windowType = WindowShape.fromName(str("window_type", "hanning")),
        sampleRate = num("sample_rate"),
        start = (j \ "start").extractOpt[String].map(parseTime)
          .getOrElse(math.round(num("start") * NsPerSec)),
        duration = (j \ "duration").extractOpt[String].map(parseTime)
          .getOrElse(math.round(num("duration") * NsPerSec)),
        parameters = (j \ "parameters").extractOpt[Map[String, Double]]
          .getOrElse(Map.empty),
        program = str("program"),
        summaryType = (j \ "summary_type").extractOpt[String]
          .filter(_.nonEmpty).map(SummaryType.fromName))
    }
  }

  /** RDF/Turtle (.n3) transform form — the reference's PRIMARY transform
    * format (every .n3 fixture under tests/test-X/transforms/; compilation
    * tries RDF first, runner/FeatureExtractionManager.cpp:482-605). This
    * is a deliberate SUBSET of Turtle covering the vamp transform
    * vocabulary the fixtures use: @prefix declarations, `subject a Type;
    * pred obj; …`, quoted literals with optional ^^type, bare numeric
    * literals (percussiononsets-multiple-outputs… uses `vamp:step_size
    * 2048`), inline bnodes `[ vamp:identifier "x" ]`, and named
    * ParameterBinding subjects (percussiononsets-start-and-duration.n3).
    *
    * Vamp URI mapping: `examples:percussiononsets` resolves through
    * [[n3PluginAliases]] to the registry analog (graft:energy has the
    * same outputs + parameters as the reference's percussiononsets);
    * outputs strip the `<plugin>_output_` URI convention; parameters
    * named via URI strip `…_param_`. */
  def parseN3(text: String): Seq[TransformSpec] = {
    val stmts = n3Statements(n3StripComments(text))
    // reference error fidelity (tests/test-parse-errors): an empty or
    // statement-free file is a PARSE failure ("RDF parser reported: …"),
    // distinct from valid RDF that just lacks a Transform subject
    if (stmts.isEmpty) throw new IllegalArgumentException(
      "RDF parser reported: no Turtle statements found (empty or " +
        "unparseable input)")
    val prefixes = scala.collection.mutable.Map.empty[String, String]
    // (subject, pred, rawObject) triples; bnode objects kept verbatim
    val triples = scala.collection.mutable.ListBuffer.empty[(String, String, String)]
    stmts.foreach { st =>
      if (st.startsWith("@prefix")) {
        val m = "@prefix\\s+([A-Za-z0-9_-]*):\\s*<([^>]*)>".r.findFirstMatchIn(st)
          .getOrElse(throw new IllegalArgumentException(s"bad @prefix: $st"))
        prefixes(m.group(1)) = m.group(2)
      } else {
        val (subj, rest) = st.span(!_.isWhitespace)
        n3TopSplit(rest, ';').map(_.trim).filter(_.nonEmpty).foreach { clause =>
          val (pred, objRaw) = clause.span(!_.isWhitespace)
          val obj = objRaw.trim
          if (obj.nonEmpty) triples += ((subj, pred, obj))
        }
      }
    }
    def objsOf(subj: String, pred: String): Seq[String] =
      triples.collect { case (s, p, o) if s == subj && p == pred => o }.toSeq
    def litOf(subj: String, pred: String): Option[String] =
      objsOf(subj, pred).headOption.map(n3Literal)
    def localName(tok: String): String = {
      val t = tok.stripPrefix("<").stripSuffix(">")
      t.substring(math.max(math.max(t.lastIndexOf('#'), t.lastIndexOf('/')),
        t.lastIndexOf(':')) + 1)
    }
    // a parameter object is an inline bnode `[ vamp:identifier "x" ]` or a
    // URI ending …_param_<identifier>
    def paramIdentifier(obj: String): String =
      if (obj.startsWith("[")) {
        "vamp:identifier\\s+\"([^\"]*)\"".r.findFirstMatchIn(obj)
          .map(_.group(1)).getOrElse(
            throw new IllegalArgumentException(s"bnode without identifier: $obj"))
      } else {
        val l = localName(obj)
        val i = l.indexOf("_param_")
        if (i >= 0) l.substring(i + "_param_".length) else l
      }
    def bindingParams(subj: String): Map[String, Double] =
      objsOf(subj, "vamp:parameter_binding").map { bObj =>
        if (bObj.startsWith("[")) { // inline binding bnode
          val inner = bObj.stripPrefix("[").stripSuffix("]")
          val id = "vamp:parameter\\s+(\\[[^\\]]*\\]|\\S+)".r
            .findFirstMatchIn(inner).map(m => paramIdentifier(m.group(1)))
            .getOrElse(throw new IllegalArgumentException(s"binding without parameter: $bObj"))
          val v = "vamp:value\\s+\"?([-0-9.eE+]+)\"?".r.findFirstMatchIn(inner)
            .map(_.group(1).toDouble)
            .getOrElse(throw new IllegalArgumentException(s"binding without value: $bObj"))
          id -> v
        } else { // named ParameterBinding subject
          val id = objsOf(bObj, "vamp:parameter").headOption.map(paramIdentifier)
            .getOrElse(throw new IllegalArgumentException(s"no vamp:parameter on $bObj"))
          val v = litOf(bObj, "vamp:value")
            .getOrElse(throw new IllegalArgumentException(s"no vamp:value on $bObj"))
            .toDouble
          id -> v
        }
      }.toMap
    val transformSubjects = triples.collect {
      case (s, "a", t) if localName(t) == "Transform" => s }
      .distinct.sorted.toSeq
    require(transformSubjects.nonEmpty,
      "valid RDF but defines no transforms (no subject with `a vamp:Transform`)")
    transformSubjects.map { subj =>
      val pluginTok = objsOf(subj, "vamp:plugin").headOption.getOrElse(
        throw new IllegalArgumentException(s"$subj has no vamp:plugin"))
      val pluginPrefix = pluginTok.takeWhile(_ != ':')
      val pluginLocal =
        if (prefixes.contains(pluginPrefix) || pluginTok.startsWith("<"))
          localName(pluginTok)
        else pluginTok // undeclared prefix: a verbatim registry name
      val plugin = n3PluginAliases.getOrElse(pluginLocal, pluginLocal)
      val output = objsOf(subj, "vamp:output").headOption.map { o =>
        val l = localName(o)
        val i = l.indexOf("_output_")
        if (i >= 0) l.substring(i + "_output_".length) else l
      }.getOrElse("")
      TransformSpec(
        id = subj.stripPrefix(":"),
        plugin = plugin,
        output = output,
        stepSize = litOf(subj, "vamp:step_size").map(_.toDouble.toInt).getOrElse(0),
        blockSize = litOf(subj, "vamp:block_size").map(_.toDouble.toInt).getOrElse(0),
        windowType = WindowShape.fromName(
          litOf(subj, "vamp:window_type").getOrElse("hanning")),
        sampleRate = litOf(subj, "vamp:sample_rate").map(_.toDouble).getOrElse(0.0),
        start = litOf(subj, "vamp:start").map(parseTime).getOrElse(0L),
        duration = litOf(subj, "vamp:duration").map(parseTime).getOrElse(0L),
        parameters = bindingParams(subj),
        program = litOf(subj, "vamp:program").getOrElse(""),
        summaryType = litOf(subj, "vamp:summary_type")
          .filter(_.nonEmpty).map(SummaryType.fromName))
    }
  }

  /** Vamp example-plugin URIs -> registry analogs (same outputs/params),
    * plus our own graft:-prefixed QName local names (so RdfSink output
    * round-trips: `vamp:plugin graft:energy` under a declared graft:
    * prefix parses back to the registry name). */
  val n3PluginAliases: Map[String, String] = Map(
    "percussiononsets" -> "graft:energy",
    "energy" -> "graft:energy",
    "histogram" -> "graft:histogram",
    "regions" -> "graft:regions",
    "clicks" -> "graft:clicks",
    "changepoints" -> "graft:changepoints",
    "spectrum" -> "graft:spectrum")

  /** Drop `# comment` outside quotes and <URIs> (`@prefix : <#>.` keeps
    * its hash). */
  private def n3StripComments(text: String): String = {
    val sb = new StringBuilder
    var inQuote = false; var inAngle = false; var skip = false
    text.foreach { c =>
      if (skip) { if (c == '\n') { skip = false; sb += c } }
      else c match {
        case '"' => inQuote = !inQuote; sb += c
        case '<' if !inQuote => inAngle = true; sb += c
        case '>' if !inQuote => inAngle = false; sb += c
        case '#' if !inQuote && !inAngle => skip = true
        case _ => sb += c
      }
    }
    sb.toString
  }

  /** Split on top-level statement terminators: `.` outside quotes,
    * brackets and <URIs>, followed by whitespace/EOF (so `22050.5` and
    * URI dots survive). */
  private def n3Statements(text: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false; var inAngle = false; var depth = 0
    var i = 0
    while (i < text.length) {
      val c = text(i)
      c match {
        case '"' => inQuote = !inQuote; cur += c
        case '<' if !inQuote => inAngle = true; cur += c
        case '>' if !inQuote => inAngle = false; cur += c
        case '[' if !inQuote && !inAngle => depth += 1; cur += c
        case ']' if !inQuote && !inAngle => depth -= 1; cur += c
        case '.' if !inQuote && !inAngle && depth == 0 &&
            (i + 1 >= text.length || text(i + 1).isWhitespace) =>
          val s = cur.toString.trim
          if (s.nonEmpty) out += s
          cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    val last = cur.toString.trim
    if (last.nonEmpty) out += last
    out.toSeq
  }

  /** Split `s` on top-level occurrences of `sep`. */
  private def n3TopSplit(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false; var inAngle = false; var depth = 0
    s.foreach {
      case c@'"' => inQuote = !inQuote; cur += c
      case c@'<' if !inQuote => inAngle = true; cur += c
      case c@'>' if !inQuote => inAngle = false; cur += c
      case c@'[' if !inQuote && !inAngle => depth += 1; cur += c
      case c@']' if !inQuote && !inAngle => depth -= 1; cur += c
      case c if c == sep && !inQuote && !inAngle && depth == 0 =>
        out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.toSeq
  }

  /** Literal value of a Turtle object token: strip quotes and ^^type;
    * bare tokens (unquoted numerics) pass through. */
  private def n3Literal(obj: String): String = {
    val base = obj.split("\\^\\^")(0).trim
    if (base.startsWith("\"") && base.length >= 2)
      base.substring(1, base.lastIndexOf('"'))
    else base
  }

  /** Segment-boundary list, reproducing the reference's deliberately sloppy
    * parser (runner/main.cpp:551-603; fixture tests/test-summaries/
    * transforms/segmentlist:1-5): one time per line; '#' comments and blank
    * lines skipped; only the FIRST comma/space-separated field of a line is
    * read (leading separators skipped); non-numeric fields are an error.
    * Returns sorted distinct boundaries in ns. */
  def parseSegments(text: String): Seq[Long] = {
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val first = l.split("[ ,]").find(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException(s"empty segment line: '$l'"))
        Try(parseTime(first)).getOrElse(
          throw new IllegalArgumentException(s"bad segment time: '$first'"))
      }
      .toSeq.distinct.sorted
  }

  /** Default-config skeleton for a plugin (the reference's --skeleton,
    * runner/main.cpp:455-466), emitted as JSON. */
  def skeleton(plugin: String): String = {
    val ex = Engine.extractor(plugin)
    val params = ex.defaultParams.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}")
    s"""[{
       |  "id": "$plugin",
       |  "plugin": "$plugin",
       |  "output": "${ex.outputs.head.identifier}",
       |  "step_size": 0,
       |  "block_size": 0,
       |  "window_type": "hanning",
       |  "sample_rate": 0,
       |  "parameters": $params
       |}]""".stripMargin
  }
}
