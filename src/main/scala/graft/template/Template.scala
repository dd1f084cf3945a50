package graft.template

import java.time.{ZoneId, ZoneOffset, ZonedDateTime}
import java.time.format.DateTimeFormatter

/** Mustache-ish `{{var}}` / `{{var:param=value}}` filename-template engine.
  *
  * Behavioral parity with the reference's `Template` DSL (used at
  * `/root/reference/src/main/java/io/aiven/kafka/connect/s3/S3SinkTask.java:169-205`
  * and validated at `S3SinkConfig.java:846-863`):
  *
  *   - variables: `topic`, `partition`, `start_offset`, `timestamp`, `key`
  *     (file-name template) plus legacy `utc_date`, `local_date` (prefix template)
  *   - `partition`/`start_offset` accept `padding=true` → rendered `%010d`
  *     / `%020d` (reference: `OldFullKeyFormatters.java:29-33`,
  *     `README.md:66-75`)
  *   - `timestamp` requires `unit=yyyy|MM|dd|HH` (reference:
  *     `S3SinkConfig.java:869-874`)
  *
  * Pure Scala — no Spark dependency. This class parses, validates and
  * renders. [[pieces]] settles every rendering rule against the batch clock
  * (which variable is a clock value, which pads and to what width), and
  * [[Template.render]] fills the remaining slots. The sink's writers call it
  * once per object; [[graft.connector.Grouping.filenameColumn]] turns the
  * same pieces into one Catalyst column for plans that need the name per
  * row.
  */
final class Template private (val raw: String, val parts: List[Template.Part]) {

  import Template._

  /** All variable occurrences, in order. */
  def variables: List[Var] = parts.collect { case v: Var => v }

  /** Distinct variable names (used for grouping-mode resolution). */
  def variableNames: Set[String] = variables.map(_.name).toSet

  /** This template against the batch wallclock `now`, the reference's only
    * time source (`S3SinkConfig.java:492-503`, `S3SinkTask.java:186-193`):
    * `{{timestamp:unit=…}}` (O4) renders in `now`'s zone and the prefix
    * vars `utc_date` / `local_date` in theirs, so a whole micro-batch lands
    * in one bucket. Every other variable becomes a [[Slot]];
    * `padding=true` pads offsets to 20 digits and partitions to 10
    * (`%020d` / `%010d`, `OldFullKeyFormatters.java:29-33`,
    * `README.md:66-75`). */
  def pieces(now: ZonedDateTime): List[Piece] = parts.map {
    case Literal(s) => Text(s)
    case Var("timestamp", param) =>
      val unit = param.collect {
        case Param("unit", u @ ("yyyy" | "MM" | "dd" | "HH")) => u
      }.getOrElse(throw new IllegalArgumentException(
        s"timestamp needs unit=yyyy|MM|dd|HH, got ${param.getOrElse("none")}"))
      Text(now.format(DateTimeFormatter.ofPattern(unit)))
    case Var("utc_date", _) => Text(date(now, ZoneOffset.UTC))
    case Var("local_date", _) => Text(date(now, ZoneId.systemDefault()))
    case Var(name, Some(Param("padding", "true"))) =>
      Slot(name, Some(if (name == "partition") 10 else 20))
    case Var(name, _) => Slot(name, None)
  }
}

object Template {

  sealed trait Part
  final case class Literal(s: String) extends Part

  /** `{{ name }}` or `{{ name:param=value }}`. */
  final case class Var(name: String, param: Option[Param]) extends Part
  final case class Param(name: String, value: String)

  /** One part of a template resolved against the batch clock. */
  sealed trait Piece extends Serializable
  final case class Text(s: String) extends Piece
  /** A variable filled from its binding's string form — the decimal form of
    * a number, as Spark's cast to string gives it — left-padded with zeros
    * to `width` and cut to `width` when longer, as Spark's `lpad` does. */
  final case class Slot(name: String, width: Option[Int]) extends Piece

  private def date(now: ZonedDateTime, zone: ZoneId): String =
    now.withZoneSameInstant(zone).format(DateTimeFormatter.ISO_LOCAL_DATE)

  /** Render resolved pieces, each slot filled by `binding`. */
  def render(pieces: Seq[Piece], binding: String => String): String = {
    val sb = new java.lang.StringBuilder
    pieces.foreach {
      case Text(s) => sb.append(s)
      case Slot(name, None) => sb.append(binding(name))
      case Slot(name, Some(width)) => sb.append(lpad(binding(name), width))
    }
    sb.toString
  }

  /** Spark's `lpad(s, width, "0")`, counted in code points. */
  private def lpad(s: String, width: Int): String = {
    val n = s.codePointCount(0, s.length)
    if (n >= width) s.substring(0, s.offsetByCodePoints(0, width))
    else "0" * (width - n) + s
  }

  // {{ var }} or {{ var:param=value }} — value may contain word chars / '|' / '-'
  private val VarRe =
    """\{\{\s*([a-zA-Z_]\w*)(?:\s*:\s*([a-zA-Z_]\w*)\s*=\s*([\w|\-]+))?\s*\}\}""".r

  def of(template: String): Template = {
    val parts = List.newBuilder[Part]
    var last = 0
    for (m <- VarRe.findAllMatchIn(template)) {
      if (m.start > last) parts += Literal(template.substring(last, m.start))
      val param = Option(m.group(2)).map(p => Param(p, m.group(3)))
      parts += Var(m.group(1), param)
      last = m.end
    }
    if (last < template.length) parts += Literal(template.substring(last))
    new Template(template, parts.result())
  }

  /** File-name template variables with their allowed parameter sets
    * (reference validator: `S3SinkConfig.java:846-874`, error text in
    * `S3SinkConfigTest.java:786-807`). */
  val FilenameVars: Map[String, Set[String]] = Map(
    "topic"        -> Set.empty,
    "partition"    -> Set("padding"),
    "start_offset" -> Set("padding"),
    "timestamp"    -> Set("unit"),
    "key"          -> Set.empty
  )

  /** Legacy prefix-template extra variables (reference `S3SinkTask.java:186-193`). */
  val PrefixVars: Map[String, Set[String]] =
    FilenameVars ++ Map("utc_date" -> Set.empty, "local_date" -> Set.empty)

  /** Validate a template's variable/parameter usage against an allowed set.
    * Returns error messages (empty = valid). */
  def validate(t: Template, allowed: Map[String, Set[String]]): List[String] =
    t.variables.flatMap { v =>
      allowed.get(v.name) match {
        case None =>
          List(
            s"unsupported set of template variables, supported sets are: " +
              "topic,partition,start_offset,timestamp; key; key,topic,partition")
        case Some(params) =>
          v.param match {
            case Some(Param(p, _)) if !params.contains(p) =>
              List(s"unsupported parameter `$p` for variable `${v.name}`")
            case Some(Param("unit", u)) if !Set("yyyy", "MM", "dd", "HH").contains(u) =>
              List(s"unsupported value `$u` for parameter `unit`")
            case _ => Nil
          }
      }
    }
}
