package graft.paths

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.time.TimeExtract

/** Output-path computation: the reference's `${param}` path template
  * (path/PathFormatter.kt:26-68) compiled ONCE into a single `concat`
  * Column expression of literals and parameter expressions — evaluated
  * per row in codegen; no per-record driver work.
  *
  * Built-in parameter plugins mirror the reference set:
  *  - fixed: projectId / userId / sourceId / topic / filename / attempt /
  *    extension (path/FixedPathFormatterPlugin.kt:20-58)
  *  - time:&lt;java-datetime-pattern&gt; (path/TimePathFormatterPlugin.kt:7-23)
  *  - key:a.b / value:a.b nested lookups (path/KeyPathFormatterPlugin.kt,
  *    path/ValuePathFormatterPlugin.kt)
  * Extension point: callers pass extra `params` (e.g. an `mp:`-style
  * enrichment resolves to columns of a broadcast-joined dimension frame,
  * cf. path/MPPathFormatterPlugin.kt:30-157).
  */
object PathTemplate {

  /** `[^a-zA-Z0-9_-]+` removed; empty → `default`
    * (path/RecordPathFactory.kt:119-125).
    */
  def sanitizeId(c: Column, default: String): Column = {
    val cleaned = regexp_replace(c.cast(StringType), "[^a-zA-Z0-9_-]+", "")
    when(cleaned.isNull || length(cleaned) === 0, lit(default)).otherwise(cleaned)
  }

  sealed trait Token
  final case class Literal(s: String) extends Token
  final case class Param(name: String) extends Token

  private val paramRe = "\\$\\{([^}]+)\\}".r

  /** Split a template into literal and `${param}` tokens. */
  def tokenize(template: String): Seq[Token] = {
    val out = Seq.newBuilder[Token]
    var last = 0
    for (m <- paramRe.findAllMatchIn(template)) {
      if (m.start > last) out += Literal(template.substring(last, m.start))
      out += Param(m.group(1))
      last = m.end
    }
    if (last < template.length) out += Literal(template.substring(last))
    out.result()
  }

  // Mirrors the reference's FixedPathFormatterPlugin.allowedParamNames
  // (FixedPathFormatterPlugin.kt:44-52): bare `${time}` is NOT legal — time
  // is only reachable through the `time:<fmt>` prefix plugin, so a template
  // using `${time}` fails validation instead of silently rendering the
  // "unknown-time" fallback into every path.
  private val fixedParamNames =
    Set("projectId", "userId", "sourceId", "topic", "filename", "attempt", "extension")

  /** Validation rules of the reference, applied at CONFIG time:
    *  - unknown parameter names are rejected with the legal set named
    *    (path/PathFormatter.kt:47-51 `Cannot use path format …: unknown
    *    parameters …`) — a typo'd `${userd}` must fail the deployment, not
    *    silently route to `unknown-userd` forever;
    *  - the template must reference `topic` and `filename` (or `attempt` +
    *    `extension`) (path/PathFormatter.kt:52-60) unless
    *    `requireDistinction = false` (bucket templates,
    *    FormattedPathFactory.kt `checkMinimalDistinction = false`).
    * The COMPILED column stays permissive (unknown-* fallbacks) as defense
    * in depth for templates built programmatically.
    */
  def validate(template: String, pluginNames: Seq[String] = Nil,
      requireDistinction: Boolean = true): Either[String, Unit] = {
    val params = tokenize(template).collect { case Param(n) => n }.toSet
    // `fixed` provides only the BARE params above — it has no prefix form
    // (reference FixedPathFormatterPlugin declares no prefix), so a raw
    // config name list must not make "${fixed:x}" validate (compile could
    // never resolve it). Callers should pass EFFECTIVE prefix names
    // (PathFormatterPlugin.prefixNames); the filter is defense in depth.
    val prefixes = (Seq("time", "key", "value") ++ pluginNames)
      .distinct.filterNot(n => n == "fixed" || n.isEmpty).map(_ + ":")
    val unknown = params.filterNot(p =>
      fixedParamNames(p) || prefixes.exists(p.startsWith))
    if (unknown.nonEmpty)
      Left(s"Cannot use path format $template: unknown parameters " +
        s"${unknown.toSeq.sorted.mkString(", ")}. Legal parameter names are " +
        s"${fixedParamNames.toSeq.sorted.mkString(", ")} and " +
        s"${prefixes.map(_ + "…").mkString(", ")} prefixes")
    else if (!requireDistinction) Right(())
    else if (!params.contains("topic")) Left("template must contain ${topic}")
    else if (!params.contains("filename") &&
             !(params.contains("attempt") && params.contains("extension")))
      Left("template must contain ${filename} or ${attempt}+${extension}")
    else Right(())
  }

  /** Compile `template` to a Column. `params` supplies fixed-name parameter
    * expressions; `timeEpochSec` powers `time:<fmt>` parameters;
    * `recordSchema` resolves `key:`/`value:` lookups (null-safe with
    * `unknown-key`/`unknown-value` fallbacks); `plugins` resolve
    * `${<plugin>:...}` parameters against columns their `enrich` added to
    * the record frame (the caller applies the enrichment).
    */
  def compile(
      template: String,
      params: Map[String, Column],
      timeEpochSec: Option[Column] = None,
      recordSchema: Option[StructType] = None,
      plugins: Seq[PathFormatterPlugin] = Nil): Column = {

    def lookup(root: String, path: String, default: String): Column = {
      // resolve to the ACTUAL field spellings (the existence walk is
      // case-insensitive, so the Column must be built from the schema's
      // names, not the template's — under spark.sql.caseSensitive=true a
      // case-mismatched template would otherwise fail analysis instead of
      // resolving), and backtick-quote each component so metacharacter
      // field names cannot break col() parsing
      val full = root +: path.split('.').toSeq
      val resolved: Option[Seq[String]] = recordSchema.flatMap { st =>
        full.foldLeft(Option((st: DataType, List.empty[String]))) {
          case (Some((s: StructType, acc)), n) =>
            s.fields.find(_.name.equalsIgnoreCase(n)).map(f => (f.dataType, f.name :: acc))
          case _ => None
        }.map(_._2.reverse)
      }
      resolved match {
        case None => lit(default)
        case Some(names) =>
          val quoted = names.map(graft.model.Flatten.quote).mkString(".")
          sanitizeId(col(quoted).cast(StringType), default)
      }
    }

    val cols = tokenize(template).map {
      case Literal(s) => lit(s)
      // null-proofing: one null parameter column would null the whole
      // concat, silently voiding the row's bin path — fall back to the
      // same unknown-* convention as every other resolution miss
      case Param(p) if params.contains(p) =>
        coalesce(params(p).cast(StringType), lit(s"unknown-$p"))
      case Param(p) if p.startsWith("time:") =>
        val fmt = p.stripPrefix("time:")
        timeEpochSec match {
          case Some(t) =>
            // TimeExtract.timeBin carries the NaN/±2e11 range guard —
            // timestamp_seconds on a garbage epoch (1e15) overflows,
            // which ANSI mode turns into a job-killing error; out-of-range
            // times fall back to unknown-time exactly like the filename
            // bin. The formatted value is then sanitized like the
            // reference's TimePathFormatterPlugin (sanitizeId over the
            // DateTimeFormatter output).
            sanitizeId(graft.time.TimeExtract.timeBin(t, fmt), "unknown-time")
          case None => lit("unknown-time")
        }
      case Param(p) if p.startsWith("key:")   => lookup("key", p.stripPrefix("key:"), "unknown-key")
      case Param(p) if p.startsWith("value:") => lookup("value", p.stripPrefix("value:"), "unknown-value")
      case Param(p) =>
        plugins.collectFirst {
          case pl if p.startsWith(s"${pl.name}:") =>
            pl.param(p.stripPrefix(s"${pl.name}:").trim)
        }.flatten.getOrElse(lit(s"unknown-$p"))
    }
    concat(cols: _*)
  }

  /** The reference's default template
    * (config/PathFormatterConfig.kt:32).
    */
  val defaultTemplate = "${projectId}/${userId}/${topic}/${filename}"

  /** Fixed-plugin parameter set for a RADAR-shaped record frame: sanitized
    * ids from `key`, hourly time-bin filename
    * (path/FixedPathFormatterPlugin.kt:20-58).
    */
  def fixedParams(
      schema: StructType,
      timeEpochSec: Column,
      topic: Column,
      extension: String,
      timeBinFormat: String = "yyyyMMdd_HH00"): Map[String, Column] = {
    def keyField(n: String, default: String): Column = {
      val exists = schema.fields.find(_.name.equalsIgnoreCase("key")).map(_.dataType) match {
        case Some(st: StructType) => st.fields.exists(_.name.equalsIgnoreCase(n))
        case _ => false
      }
      if (exists) sanitizeId(col(s"key.$n").cast(StringType), default) else lit(default)
    }
    Map(
      "projectId" -> keyField("projectId", "unknown-project"),
      "userId"    -> keyField("userId", "unknown-user"),
      "sourceId"  -> keyField("sourceId", "unknown-source"),
      "topic"     -> topic,
      // always attempt 0, rendered "" (reference toAttemptSuffix): the
      // compiled path names a bin's slot 0. Later slots (a dynamic topic's
      // header mismatches) are named from that path by
      // Restructure.attemptPath — `_i` before the extension — for the
      // writer and the cleaner alike, never through this parameter
      "attempt"   -> lit(""),
      "extension" -> lit(extension),
      "filename"  -> concat(TimeExtract.timeBin(timeEpochSec, timeBinFormat), lit(extension)))
  }
}
