package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** End-to-end bronze→silver→gold on acordos-domain fixtures (FIXTURES.md §A):
  * duplicates, '-' placeholders, malformed dates, nulls, >255-char título,
  * rows differing only in dropped columns.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val longTitle = "acordo " * 50 // 350 chars

  // raw sheet layout: 13 columns, original header casing, all strings
  private def rawDf = Seq(
    // (data, parceiro, tipo_parceiro, continente, regiao, local, tipo_acordo,
    //  titulo, objetivo, recursos, tipo_doc, vigencia, link)
    ("01/02/2010", " frança ", "País", "Europa", "Europa Ocidental", "Paris",
     "bilateral", "acordo d'água", "cooperação", "hídricos", "memorando",
     "01/02/2020", "http://a"),
    ("01/02/2010", " frança ", "País", "Europa", "Europa Ocidental", "Paris",
     "bilateral", "acordo d'água", "cooperação", "hídricos", "memorando",
     "01/02/2020", "http://a"), // exact duplicate
    ("01/02/2010", " frança ", "País", "Europa", "Europa Ocidental", "Paris",
     "bilateral", "acordo d'água", "cooperação", "hídricos", "memorando",
     "99/99/9999", "http://OTHER"), // differs only in vigência/link -> collapses at silver
    ("bogus-date", "ONU", "Organização", "-", null, "Genebra",
     "multilateral", longTitle, "-", null, "tratado", null, null),
  ).toDF(Schemas.rawHeaders.map(h => h.toUpperCase): _*) // scrambled casing

  private def typed(schema: StructType) = schema.map(f => (f.name, f.dataType))

  private def key(df: DataFrame) =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("bronze: normalize names, parse dates (coerce), truncate título") {
    val b = Bronze.transform(rawDf)
    assert(typed(b.schema) === typed(Schemas.bronze))
    val rows = b.select("data_de_celebração", "vigência", "título").collect()
    assert(rows(0).getDate(0).toString === "2010-02-01")
    assert(rows(2).isNullAt(1))        // 99/99/9999 -> NULL
    assert(rows(3).isNullAt(0))        // bogus-date -> NULL
    assert(rows(3).getString(2).length === 255)
    // F2 trim before F3 truncate: the leading spaces do not count
    val padded = Bronze.transform(rawDf.limit(1).select(rawDf.columns.toSeq.map(c =>
      if (c == "TÍTULO") lit("  " + "x" * 300).as(c) else col(c)): _*))
    assert(padded.select("título").as[String].head() === "x" * 255)
  }

  test("silver: fill/replace, trim+title, ano, project+dedup") {
    val s = Silver.transform(Bronze.transform(rawDf))
    assert(typed(s.schema) === typed(Schemas.silver))
    // 4 raw rows -> dup collapses AND the vigência/link-only variant collapses
    assert(s.count() === 2)
    val fr = s.filter($"parceiro" === "França").head()
    assert(fr.getAs[String]("tipo_de_parceiro") === "País")
    assert(fr.getAs[String]("título") === "Acordo D'Água") // pandas-title
    assert(fr.getAs[Int]("ano") === 2010)
    val onu = s.filter($"parceiro" === "Onu").head()
    assert(onu.getAs[String]("continente") === "Não Informado") // '-' replaced then titled
    assert(onu.getAs[String]("região") === "Não Informado")     // NULL filled then titled
    assert(onu.isNullAt(s.columns.indexOf("ano")))              // null date -> null ano
  }

  test("O3 retries: flaky task succeeds within budget; exhausted budget rethrows") {
    var calls = 0
    val got = Orchestrate.withRetries(3) {
      calls += 1
      if (calls < 3) sys.error(s"flaky $calls")
      "ok"
    }
    assert(got === "ok" && calls === 3)
    intercept[RuntimeException] {
      Orchestrate.withRetries(2) { sys.error("always") }
    }
  }

  test("O2/O4 fan-out: failures are isolated, successes complete") {
    val (ok, bad) = Orchestrate.runAll(Seq(
      "a" -> (() => 1),
      "boom" -> (() => sys.error("nope")),
      "b" -> (() => 2)), attempts = 2)
    assert(ok === Map("a" -> 1, "b" -> 2))
    assert(bad.keySet === Set("boom"))
  }

  test("gold: derived dims, país/org splits, null-propagating hierarchy") {
    val g = Gold.transform(Silver.transform(Bronze.transform(rawDf)))
    assert(g.hier.columns.toSeq === Seq("local_completo", "acordo_recurso"))
    val hier = g.hier.collect().map(r => Option(r.getString(0))).toSet
    assert(hier.contains(Some("Europa > Europa Ocidental > Paris")))
    assert(g.pais.count() === 1 && g.org.count() === 1)
    assert(g.acordos.count() === 2)
    // all levels informative for ONU row (filled at silver) -> concat non-null
    val orgRow = g.org.head()
    assert(orgRow.getString(0) === "Não Informado > Não Informado > Genebra")
  }

  test("Medallion.run: six directories, gold equal to Gold.transform over the silver") {
    val root = scratch("medallion")
    val landing = s"$root/landing"; val out = s"$root/out"
    rawDf.write.parquet(landing)
    Medallion.run(spark, landing, out)
    for (d <- Seq("bronze", "silver", "gld_acordos", "gld_hier", "gld_pais", "gld_org"))
      assert(new java.io.File(s"$out/$d/_SUCCESS").isFile, s"$d not written")
    assert(new java.io.File(s"$out/gld_acordos").list().exists(_.startsWith("ano=")))
    val silver = spark.read.schema(Schemas.silver).parquet(s"$out/silver")
    assert(key(silver) === key(Silver.transform(Bronze.transform(rawDf))))
    val g = Gold.transform(silver)
    for ((name, want) <- Seq("acordos" -> g.acordos, "hier" -> g.hier, "pais" -> g.pais,
        "org" -> g.org))
      assert(key(spark.read.parquet(s"$out/gld_$name")) === key(want), s"gld_$name")
    // silver is distinct by construction: gold over its parquet adds no
    // second distinct
    val aggs = g.acordos.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.isEmpty, s"acordos over parquet silver aggregates: $aggs")
  }
}
