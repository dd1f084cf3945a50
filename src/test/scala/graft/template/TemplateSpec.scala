package graft.template

import java.time.{Instant, LocalDate, ZoneId, ZonedDateTime}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite
import graft.connector.Grouping

/** Template engine parity with the reference's DSL (README.md:50-95,
  * OldFullKeyFormatters.java:29-50): parsing and validation here, rendering
  * through the sink's own renderer, `Grouping.filenameColumn`. */
class TemplateSpec extends SparkSuite {

  private val Now = ZonedDateTime.of(2020, 3, 1, 7, 0, 0, 0, ZoneId.of("Z"))

  /** Render `tpl` for every row of `df`, each template variable bound to the
    * column of the same name. */
  private def renderAll(tpl: String, df: DataFrame,
                        now: ZonedDateTime = Now): Seq[String] =
    df.select(Grouping.filenameColumn(Template.of(tpl),
        df.columns.map(c => c -> col(c)).toMap, now))
      .collect().map(_.getString(0)).toSeq

  /** The single (topic, partition, start_offset) record the README's
    * examples name. */
  private def mytopic(offset: Long = 1L): DataFrame = {
    import spark.implicits._
    Seq(("mytopic", 1, offset)).toDF("topic", "partition", "start_offset")
  }

  private def render(tpl: String, df: DataFrame = mytopic()): String =
    renderAll(tpl, df).head

  test("plain variables render in place") {
    assert(render("{{topic}}-{{partition}}-{{start_offset}}", mytopic(42L)) ==
      "mytopic-1-42")
  }

  test("padding=true renders %020d like the reference") {
    // README.md:68: {{topic}}-{{partition}}-{{start_offset:padding=true}}.gz
    // -> mytopic-1-00000000000000000001.gz
    assert(render("{{topic}}-{{partition}}-{{start_offset:padding=true}}.gz") ==
      "mytopic-1-00000000000000000001.gz")
  }

  test("partition padding is 10 digits, not 20 (README.md:73)") {
    // {{topic}}-{{partition:padding=true}}-{{start_offset}}.gz
    // -> mytopic-0000000001-1.gz
    assert(render("{{topic}}-{{partition:padding=true}}-{{start_offset}}.gz") ==
      "mytopic-0000000001-1.gz")
  }

  test("timestamp units format in the configured zone") {
    val tpl = "{{topic}}-{{timestamp:unit=yyyy}}{{timestamp:unit=MM}}" +
      "{{timestamp:unit=dd}}-{{timestamp:unit=HH}}"
    assert(renderAll(tpl, mytopic()).head == "mytopic-20200301-07")
    // the wallclock renders in its own zone: 07:00Z is 16:00 in Tokyo
    assert(renderAll(tpl, mytopic(), Now.withZoneSameInstant(ZoneId.of("Asia/Tokyo")))
      .head == "mytopic-20200301-16")
  }

  test("whitespace inside braces is tolerated") {
    assert(render("{{ topic }}/x") == "mytopic/x")
  }

  test("literal-only templates pass through (100 scalacheck samples)") {
    val gen = Gen.asciiPrintableStr.suchThat(!_.contains("{{"))
    (0 until 100).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach { s =>
        assert(render(s) == s)
      }
    }
  }

  test("variableNames drives grouping-mode resolution sets") {
    assert(Template.of("{{key}}").variableNames == Set("key"))
    assert(Template.of("{{topic}}-{{partition}}-{{start_offset}}").variableNames ==
      Set("topic", "partition", "start_offset"))
  }

  test("validate rejects unknown variables with the reference's message") {
    val errs = Template.validate(Template.of("{{nope}}"), Template.FilenameVars)
    assert(errs.exists(_.contains("unsupported set of template variables")))
  }

  test("validate rejects bad timestamp unit") {
    val errs = Template.validate(
      Template.of("{{timestamp:unit=ss}}"), Template.FilenameVars)
    assert(errs.exists(_.contains("unsupported value `ss` for parameter `unit`")))
  }

  test("prefix vars allow utc_date/local_date") {
    val instant = Instant.parse("2021-06-15T23:30:00Z")
    val now = instant.atZone(ZoneId.of("Asia/Tokyo"))
    assert(renderAll("{{utc_date}}", mytopic(), now).head == "2021-06-15")
    assert(renderAll("{{local_date}}", mytopic(), now).head ==
      LocalDate.ofInstant(instant, ZoneId.systemDefault()).toString)
  }

  test("unbound variable raises") {
    assertThrows[IllegalArgumentException](
      Grouping.filenameColumn(Template.of("{{topic}}"), Map.empty, Now))
  }

  test("padding law: 20 chars, numeric round-trip (200 scalacheck longs)") {
    import spark.implicits._
    val gen = Gen.chooseNum(0L, Long.MaxValue / 2)
    val ns = (0 until 200).flatMap(i => gen(Gen.Parameters.default, Seed(i.toLong)))
    val rendered = renderAll("{{start_offset:padding=true}}", ns.toDF("start_offset"))
    assert(rendered.size == ns.size)
    ns.zip(rendered).foreach { case (n, r) =>
      assert(r.length == math.max(20, n.toString.length))
      assert(r.toLong == n)
    }
  }

  test("the writers' per-object renderer and the filenameColumn wrapper " +
    "render identical strings: negative partitions, over-width padded " +
    "values, every timestamp unit, non-UTC zones") {
    import spark.implicits._
    val rows = Seq(
      ("mytopic", 1, 42L, "k"),
      ("mytopic", -1, -7L, "null"),
      ("t", Int.MinValue, Long.MinValue, "a-key-well-over-twenty-characters"),
      ("t", Int.MaxValue, Long.MaxValue, "\u043a\u043b\u044e\u0447-\ud83d\ude42-wider-than-twenty-code-points"),
      ("t.x", 0, 0L, ""))
    val df = rows.toDF("topic", "partition", "start_offset", "key")
    val templates = Seq(
      "{{topic}}-{{partition}}-{{start_offset}}",
      "{{topic}}-{{partition:padding=true}}-{{start_offset:padding=true}}",
      "{{timestamp:unit=yyyy}}/{{timestamp:unit=MM}}/{{timestamp:unit=dd}}/" +
        "{{timestamp:unit=HH}}/{{topic}}-{{partition}}",
      "{{utc_date}}-{{local_date}}-{{key}}",
      "{{key:padding=true}}|{{partition:padding=false}}")
    val zones = Seq("UTC", "Asia/Tokyo", "America/St_Johns")
    for (tpl <- templates; zone <- zones) {
      val now = Now.plusHours(16).withZoneSameInstant(ZoneId.of(zone))
      val pieces = Template.of(tpl).pieces(now)
      val perObject = rows.map { case (t, p, o, k) =>
        Template.render(pieces, Map("topic" -> t, "partition" -> p.toString,
          "start_offset" -> o.toString, "key" -> k))
      }
      assert(renderAll(tpl, df, now) == perObject, s"$tpl in $zone")
    }
  }
}
