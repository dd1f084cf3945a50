package graft.template

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
  * Pure Scala — no Spark dependency. This class parses and validates;
  * rendering is [[graft.connector.Grouping.filenameColumn]], which turns the
  * parsed parts into one Catalyst column so every file name is computed
  * distributively, next to the records it names.
  */
final class Template private (val raw: String, val parts: List[Template.Part]) {

  import Template._

  /** All variable occurrences, in order. */
  def variables: List[Var] = parts.collect { case v: Var => v }

  /** Distinct variable names (used for grouping-mode resolution). */
  def variableNames: Set[String] = variables.map(_.name).toSet
}

object Template {

  sealed trait Part
  final case class Literal(s: String) extends Part

  /** `{{ name }}` or `{{ name:param=value }}`. */
  final case class Var(name: String, param: Option[Param]) extends Part
  final case class Param(name: String, value: String)

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
