package graft.harvest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EP1 — the full harvest pipeline (/root/reference/harvest.py:383-485)
  * as one declarative DataFrame DAG:
  *
  *   bindings → validate/filter (A9/A18) → distinct (A5)
  *     → terms upsert (A10/A11/A12/A17)
  *     → melt (A14) → FK join (A13) → insert-if-absent (A15)
  *     → staged atomic write (A21/A22/A23) + stats (A16)
  *
  * The reference's sequential page loop disappears into source
  * partitioning; its per-row SQLite probes become two shuffle joins.
  */
object HarvestJob {

  case class Config(
      collectionUri: String,
      bindingsPath: String,
      storeDir: String,
      /** injected clock (SURVEY §7 H3) — all generated timestamps in one
        * run share this value, like CURRENT_TIMESTAMP in one transaction */
      asOf: java.sql.Timestamp,
      meltVars: Seq[String] = Transform.boundVars,
      /** H4: also export the store as one reference-compatible SQLite
        * file (the reference's `translations.db` deliverable). */
      sqliteArtifact: Option[String] = None)

  case class Result(
      bindingsRead: Long,
      validRows: Long,
      distinctTerms: Long,
      termsInserted: Long,
      termsUpdated: Long,
      fieldsInserted: Long,
      warnings: Seq[String]) {
    /** harvest.py:376-380 summary. */
    def summary: String =
      s"Harvest complete: $bindingsRead bindings, $validRows valid rows, " +
        s"$distinctTerms terms ($termsInserted new, $termsUpdated updated), " +
        s"$fieldsInserted new field values"
  }

  def run(spark: SparkSession, cfg: Config): Result = {
    val warnings = Validate.validateCollectionUri(cfg.collectionUri).toSeq
    val result = merge(Source.readBindings(spark, cfg.bindingsPath), cfg.storeDir,
      cfg.asOf, cfg.meltVars)
    // bootstrap the never-written tables (A23)
    Store.bootstrap(spark, cfg.storeDir)
    cfg.sqliteArtifact.foreach(Store.writeSqliteArtifact(spark, cfg.storeDir, _))
    result.copy(warnings = warnings)
  }

  /** The merge core (harvest.py:358-374) — one page-or-batch of bindings
    * into the store at `storeDir`: distinct + row gate (A5/A9/A18) →
    * terms upsert (A11/A12) → melt (A14) → FK resolve (A13) →
    * insert-if-absent (A15) → uniqueness checks (A19/A20) → the staged
    * swaps of `terms` and `term_fields` (A21/A22). Every harvest caller
    * runs it: [[run]], the streaming sink
    * ([[graft.streaming.Streaming.harvestSink]]) and the
    * `a22_sqlite_artifact` gate.
    *
    * `stagingTag` and `fence` pass through to [[Store.writeTable]]; `fence`
    * also runs once after the merge, before the first staging write.
    *
    * Scale shape (join forms verified on Spark 4.1): the A13 FK join
    * (inner) broadcasts the O(batch) side, so the store is scanned, not
    * shuffled, in that leg; the A11 upsert (full outer — no broadcast form
    * exists) and the A15 anti-join (the store on the right, so past the
    * AQE broadcast threshold it is a sort-merge join) are each ONE
    * store-keyed shuffle; and the A21 swap REWRITES both tables. The
    * O(store) read + two key shuffles + rewrite per call is by design: the
    * reference-shaped store is one plain parquet dir per table, the
    * analogue of the reference's single SQLite file. At 100 TB the store
    * is a lakehouse table BUCKETED on the merge keys and this pipeline
    * lands as a partition-pruned MERGE: the upsert's and anti-join's
    * shuffles become bucket-local merges and the rewrite touches only
    * buckets containing the batch's keys — the surrogate-id discipline
    * already supports that (max-id is a footer-stats read; row_number
    * orders only the new rows). BucketedLayoutSpec feeds the unmodified
    * A11/A15 operators a store bucketed on these keys and pins the plans:
    * zero ShuffleExchange above the bucketed scans, results bit-equal. */
  def merge(bindings: DataFrame, storeDir: String, asOfTs: java.sql.Timestamp,
      meltVars: Seq[String] = Transform.boundVars, stagingTag: String = "",
      fence: () => Unit = () => ()): Result = {
    val spark = bindings.sparkSession
    // A16 stats are collected as the data flows, not as extra jobs:
    // the raw-bindings count rides the first materialization via observe()
    // (the source is read exactly once), and every other statistic is one
    // multi-aggregate pass over an already-cached intermediate.
    val bindingsObs = org.apache.spark.sql.Observation("bindings_read")
    val valid = Transform.filterValidBindings(Transform.distinctRows(
      bindings.observe(bindingsObs, count(lit(1)).as("n")))).cache()
    val existingTerms =
      Store.readTableOr(spark, storeDir, "terms", Schemas.terms).cache()
    val existingFields =
      Store.readTableOr(spark, storeDir, "term_fields", Schemas.termFields).cache()
    val asOf: Column = lit(asOfTs)
    // released on every exit: a cache entry left keyed on the store paths
    // would serve the pre-merge rows to the next read of this store in the
    // session (the artifact export, or the next trigger after a fenced one)
    try {
      // (validRows, distinctTerms) in one pass — also materializes the
      // cache, which fires the bindings observation.
      val vRow = valid.agg(count(lit(1)), countDistinct(col("concept"))).head()
      val validRows = vRow.getLong(0)
      val distinctTerms = vRow.getLong(1)
      val bindingsRead = bindingsObs.get("n").asInstanceOf[Long]

      // (count, max id) in one pass
      val etRow = existingTerms.agg(count(lit(1)), max(col("id"))).head()
      val existingCount = etRow.getLong(0)
      val nextTermId = (if (etRow.isNullAt(1)) 0L else etRow.getLong(1)) + 1

      // localCheckpoint, not cache (the ledger prune discipline, see
      // BatchLedger): cache() keeps the lineage back to the CURRENT store's
      // parquet, and the first writeTable swap DELETES those files before
      // the second table is written — on a cluster, recomputing a lost
      // cached partition of `allFields` (whose lineage runs through `terms`
      // → the old terms parquet) would read deleted paths. The eager
      // checkpoint cuts the lineage before any swap runs. Trade-off:
      // localCheckpoint blocks are UNRECOVERABLE on executor loss — this
      // converts the silent wrong-path recompute into a hard job failure
      // (fail-fast; the job re-runs idempotently). Reliable checkpointing
      // would add fault tolerance at the cost of a distributed-FS
      // round-trip per table.
      val terms = Merge.upsertTerms(
        existingTerms, valid.select(col("concept").as("uri")), asOf,
        startId = Some(nextTermId)).localCheckpoint(true)
      // (count, updated-count) in one pass
      val tRow = terms.agg(count(lit(1)),
        count(when(col("updated_at") === asOf && col("created_at") =!= asOf, 1))).head()
      val termsInserted = tRow.getLong(0) - existingCount
      val termsUpdated = tRow.getLong(1)

      val melted = Transform.meltAll(valid, meltVars)
      val resolved = Merge.resolveFk(melted, terms)
      val efRow = existingFields.agg(count(lit(1)), max(col("id"))).head()
      val existingFieldCount = efRow.getLong(0)
      val nextFieldId = (if (efRow.isNullAt(1)) 0L else efRow.getLong(1)) + 1
      val allFields = Merge.insertIfAbsent(existingFields, resolved, asOf,
        startId = Some(nextFieldId)).localCheckpoint(true)
      val fieldsInserted = allFields.count() - existingFieldCount

      // A19/A20: fail the job (like the reference's sqlite3.Error path,
      // harvest.py:477-479) if the merged store would violate its
      // uniqueness constraints.
      Validate.enforce(Validate.uniqueViolations(terms, Seq("uri")), "terms.uri unique")
      Validate.enforce(
        Validate.uniqueViolations(allFields, Seq("term_id", "field_uri", "original_value")),
        "term_fields(term_id, field_uri, original_value) unique")

      // A21/A22: staged writes, then swap.
      fence()
      Store.writeTable(terms, storeDir, "terms", stagingTag, fence)
      Store.writeTable(allFields, storeDir, "term_fields", stagingTag, fence)
      Result(bindingsRead, validRows, distinctTerms,
        termsInserted, termsUpdated, fieldsInserted, Nil)
    } finally {
      // terms/allFields are checkpointed, not cached — their blocks free via
      // the ContextCleaner; only the cache()d frames need explicit release.
      valid.unpersist()
      existingTerms.unpersist(); existingFields.unpersist()
    }
  }
}
