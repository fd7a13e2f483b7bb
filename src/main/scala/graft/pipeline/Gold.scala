package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Derive

/** Gold layer: silver → 4 analytics outputs.
  *
  * Reference: /root/reference/airflow/dags/tasks/gold.py:11-68.
  *
  *   - `local_completo` = continente > região > local_de_assinatura (D1,
  *     gold.py:38); `acordo_recurso` = tipo_de_acordo - recursos (D2, :39).
  *     Null-propagating concat, matching pandas `+` with NaN.
  *   - `gld_pais` / `gld_org`: equality filters on tipo_de_parceiro (P4,
  *     gold.py:42-43) over the derived frame, projected to the two derived
  *     columns (P3, gold.py:56-58).
  *   - `gld_acordos`: the silver 11-column projection. The reference's
  *     `drop_duplicates` here (gold.py:51) repeats silver's, and silver is
  *     distinct by construction ([[Silver.transform]] ends in it), so the
  *     projection alone is the same rows without a second shuffle.
  *
  * The reference computes ALL of this 4× (one identical Airflow task per
  * output, dag_main.py:62-77 + gold.py:54-59). Here [[sinks]] is the one
  * definition of the four outputs, each a projection or filter of the
  * [[derive]] frame: [[Medallion.run]] writes them from one derived plan
  * with nothing persisted, and the streaming fan-out
  * ([[IncrementalMedallion.runAcordos]]) derives each micro-batch once and
  * holds it only for the length of the four writes.
  */
object Gold {

  final case class Outputs(acordos: DataFrame, hier: DataFrame,
                           pais: DataFrame, org: DataFrame)

  def derive(silver: DataFrame): DataFrame =
    silver
      .withColumn("local_completo",
        Derive.hierarchy(Seq(col("continente"), col("região"), col("local_de_assinatura"))))
      .withColumn("acordo_recurso",
        Derive.composite(col("tipo_de_acordo"), col("recursos")))

  private val twoCols: Seq[Column] = Seq(col("local_completo"), col("acordo_recurso"))

  private def partner(tipo: String)(derived: DataFrame): DataFrame =
    derived.filter(col("tipo_de_parceiro") === tipo).select(twoCols: _*)

  /** The four gold outputs by name, each over the [[derive]] frame. */
  val sinks: Seq[(String, DataFrame => DataFrame)] = Seq(
    "acordos" -> (_.select(Schemas.silver.fieldNames.toSeq.map(col): _*)),
    "hier"    -> (_.select(twoCols: _*)),
    "pais"    -> partner("País"),
    "org"     -> partner("Organização"))

  /** The four outputs as lazy plans over `silver`; nothing is cached. */
  def transform(silver: DataFrame): Outputs = {
    val derived = derive(silver)
    val out = sinks.map { case (name, f) => name -> f(derived) }.toMap
    Outputs(out("acordos"), out("hier"), out("pais"), out("org"))
  }
}
