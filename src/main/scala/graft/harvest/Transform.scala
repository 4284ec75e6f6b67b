package graft.harvest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The semantic heart of the harvest pipeline: row filtering (A9),
  * full-row DISTINCT (A5), first-wins key dedup (A10), and the wide→long
  * EAV melt (A14). All declarative — Catalyst handles pushdown and picks
  * hash-based physical operators.
  */
object Transform {

  /** The SPARQL variables the reference's SELECT binds
    * (harvest.py:74-79) — the default melt set. */
  val boundVars: Seq[String] = Seq("prefLabel", "altLabel", "definition")

  /** A9 + A18 row predicate: a binding is valid when its concept is
    * present, non-empty, and a well-formed URI (harvest.py:321-323 + 28-51
    * applied row-level). Exposed so conditional counts (A16 stats) use the
    * IDENTICAL predicate as the row gate. */
  val validBindingPredicate: Column =
    col("concept").isNotNull && col("concept") =!= "" &&
      Validate.uriValid(col("concept"))

  /** A9 + A18 row gate over [[validBindingPredicate]]. */
  def filterValidBindings(bindings: DataFrame): DataFrame =
    bindings.filter(validBindingPredicate)

  /** A5: full-row DISTINCT, the reference's `SELECT DISTINCT` (harvest.py:74). */
  def distinctRows(bindings: DataFrame): DataFrame = bindings.distinct()

  /** A10: first-row-wins per concept, matching the `terms_processed` set
    * semantics (harvest.py:317-318). "First" must be deterministic under
    * parallelism, so rows are ranked by an explicit total order rather than
    * arrival order. One shuffle on `concept`.
    */
  def dedupFirstWins(bindings: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("concept")).orderBy(
      col("prefLabel").asc_nulls_first,
      col("altLabel").asc_nulls_first,
      col("definition").asc_nulls_first)
    bindings.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A14: wide→long melt of the bound SKOS properties into EAV rows
    * (harvest.py:17-25 config + 358-370 loop). Uses the native `unpivot`
    * (no shuffle — a generate-style expand) and then attaches the
    * (field_uri, field_term) constants via a broadcast join against the
    * 7-row mapping table. Unbound (null) values are skipped exactly as
    * harvest.py:360-361 does.
    *
    * @param wide one row per concept with columns named after SPARQL vars
    * @param vars which property columns to melt (must exist in `wide`)
    */
  def melt(wide: DataFrame, vars: Seq[String] = boundVars): DataFrame = {
    val spark = wide.sparkSession
    val unpivoted = wide.unpivot(
      Array(col("concept")),
      vars.map(col).toArray,
      "field_term_var",
      "original_value")
      .filter(col("original_value").isNotNull)
    unpivoted
      .join(broadcast(FieldMappings.asDataFrame(spark)), Seq("field_term_var"))
      .select(col("concept"), col("field_uri"), col("field_term"), col("original_value"))
  }

  /** A14 fan-out variant: melt the *non-deduplicated* bindings so that
    * multi-valued properties (one row per value, H5 in SURVEY §7) each emit
    * an EAV row; dedup on the full EAV key afterwards. */
  def meltAll(bindings: DataFrame,
              vars: Seq[String] = boundVars): DataFrame =
    melt(bindings, vars).dropDuplicates("concept", "field_uri", "original_value")
}
